"""The table format's one home: the commit protocol, and ``TableLog``,
the spark-free half of ManagedTable — the one reader and the one
publisher of a table's version log.

Everything here reads or writes version METADATA through plain files
and needs no SparkSession:

* the commit protocol, as functions on a table path: the record put
  (:func:`snapshot_commit_ref`) with its allocation high-water, txn
  stamp and lineage checkpoints, the published pointer, repair-
  resolving a version's data dir, the abandoned ledger and op entry
  (:func:`resolve_entry`), rollback, retention and the staging sweep;
* one record read (:func:`_record`, which asks the active LogStore on
  a miss so its claim repair holds on every path), one record census
  (:func:`_versions`, through ``list_records``) and one parent-pointer
  walk (:func:`_walk`) that every caller applies its own acceptance
  rule to;
* one SQL↔Arrow type table (:data:`_TYPES`) the schema mixin, the
  sink and the change-feed source derive theirs from;
* the ``_table.json`` config's one O_EXCL create
  (:func:`create_config`) and one atomic replace (:func:`save_config`);
* :class:`TableLog`: the ``_table.json`` config and its reader-feature
  gate, the per-version file universe (``_dv.json`` base / appends /
  dead), the txn high-water, the ``_vacuumed.json`` tombstone guard,
  and the one reference-commit publish loop (:meth:`TableLog._publish`)
  with its layout (:meth:`TableLog._lay_ref`).

``ManagedTable`` is ``TableLog`` plus a session and the Spark faces
(``class ManagedTable(..., _TableReadMixin, TableLog)``). The pyarrow
DataSources (``sources/table_batch.py``, ``table_cdf.py``,
``table_sink.py``) hold a bare ``TableLog(path)``, so every reader of
the log — engine or pyarrow — passes the same feature gate, raises the
same named errors on vacuumed dirs, and every reference commit
(including the Arrow sink's) publishes through the same retry loop.
The log's own files — ``_table.json``, ``_commits``, ``_ckpts``,
``_abandoned``, the ``_hw`` hint, ``_latest``, ``_dv.json`` and
``_vacuumed.json`` — are spelled, among the modules under
``operators/``, ``sources/`` and ``streaming/``, in this one only
(``logstore.py`` writes the ``_latest`` pointer it owns;
tests/test_table_log.py guards the three packages). Some query modules
outside them (``queries_snapshots.py``, ``queries_stream_state.py``,
``queries_protocol.py``) still build these paths by hand.
"""

from __future__ import annotations

import json
import os
from typing import Callable, Iterator, Sequence

from .logstore import get_log_store

#: reader features THIS build understands; tables list the subset
#: their history actually uses (stamped on first use). An unknown
#: listed feature makes the constructor refuse loudly — the Delta
#: protocol-versioning contract, because both features change what
#: EXISTING bytes mean (a dead-file-unaware reader resurrects
#: compaction victims; a widen-unaware reader serves narrow types).
SUPPORTED_FEATURES = {"dead-files", "type-widening"}

_MOD = 1152921504606846976  # 2^60: the digest's modular-sum base
_DIGEST = ("n_rows", "xor_hash", "sum_hash_mod")

# ---------------------------------------------------------------------------
# The one SQL <-> Arrow type table
# ---------------------------------------------------------------------------

#: (SQL simpleString, its aliases, pyarrow factory, cast-stable) — the
#: last flag says Python/Arrow ``str()`` equals Spark's CAST(x AS
#: STRING), which the sink's digest chain requires
_TYPES = (
    ("tinyint", ("byte",), "int8", True),
    ("smallint", ("short",), "int16", True),
    ("int", ("integer",), "int32", True),
    ("bigint", ("long",), "int64", True),
    ("float", (), "float32", False),
    ("double", (), "float64", False),
    ("string", (), "string", True),
    ("boolean", (), "bool_", True),
    ("binary", (), "binary", False),
    ("date", (), "date32", True),
)
_ALIASES = {a: t for t, aliases, _, _ in _TYPES for a in aliases}
_ARROW_OF = {t: a for t, _, a, _ in _TYPES}
#: the SQL types whose renderings the digest chain can hash
STABLE_TYPES = {t for t, _, _, stable in _TYPES if stable}
#: the integer family, narrowest first (the widening chain)
INT_CHAIN = [t for t, _, a, _ in _TYPES if a.startswith("int")]


def sql_type(t: str) -> str:
    """A SQL type string normalized to its simpleString form."""
    t = t.strip().lower()
    return _ALIASES.get(t, t)


def arrow_type(t: str):
    """The pyarrow type of SQL type ``t`` (aliases accepted), or None
    when the table has no entry for it."""
    import pyarrow as pa

    name = _ARROW_OF.get(sql_type(t))
    return None if name is None else getattr(pa, name)()


def footer_types(
    sample: str,
    widened: dict[str, str] | None = None,
    added: dict[str, str] | None = None,
) -> dict[str, str]:
    """physical column → SQL type as a version serves it: one parquet
    footer's fields in file order, then the metadata-``added`` columns
    the file lacks, with the ``widened`` type overrides applied (reads
    upcast pre-widen files)."""
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_type

    sch = pq.ParquetFile(sample).schema_arrow
    out = {
        n: from_arrow_type(sch.field(n).type).simpleString() for n in sch.names
    }
    for ph, t in (added or {}).items():
        out.setdefault(ph, t)
    for ph, t in (widened or {}).items():
        if ph in out:
            out[ph] = t
    return out


# ---------------------------------------------------------------------------
# Records: one read, one census, one walk
# ---------------------------------------------------------------------------


def _cdir(table_path: str) -> str:
    return os.path.join(table_path, "_commits")


def _record(table_path: str, v: int) -> dict:
    """Commit record ``v`` ({} when there is none) — the one record
    read. A miss asks the active LogStore (advice r13, low): a commit
    claimed in a coordination adapter but not yet materialized as a
    record file (crash between claim and write) IS a commit, and
    ``has_record`` repairs the file so the read sees it."""
    if v < 1:
        return {}
    cdir, name = _cdir(table_path), f"{v}.json"
    p = os.path.join(cdir, name)
    try:
        f = open(p)
    except FileNotFoundError:
        if not get_log_store().has_record(cdir, name):
            return {}
        f = open(p)
    with f:
        return json.load(f)


def _versions(table_path: str) -> list[int]:
    """Every commit record's version, ascending — the one record
    census. It goes through the LogStore (advice r13, low): an adapter
    with claim repair materializes claimed-but-missing records here,
    so no census can miss a committed version."""
    return sorted(
        int(f.split(".")[0])
        for f in get_log_store().list_records(_cdir(table_path))
        if f[0].isdigit()  # skip tmp and hint files
    )


def _parent(v: int, rec: dict) -> int:
    return int(rec.get("parent", v - 1))


def _walk(
    table_path: str,
    frm: int,
    to_excl: int = 0,
    splice: Callable[[int], list[dict] | None] | None = None,
) -> Iterator[tuple[int, dict]]:
    """Yield (version, record) down the PARENT chain from ``frm`` while
    the version is above ``to_excl`` — the one parent-pointer walk.
    The published chain, not version arithmetic: after a rollback the
    abandoned branch is unreachable from the new chain. A missing
    record yields ``{}`` and ends the walk; so does a parent pointer
    that does not decrease (never loop).

    ``splice(v)`` is tried at every version below ``frm``: when it
    returns a lineage checkpoint's folded entries (newest-first
    ``{v, ts, txn?, txn_id?}``), they are yielded instead and end the
    walk — a checkpoint's chain IS version v's unique parent chain,
    so the walk is O(cadence) record reads + one checkpoint read.
    Every caller applies its own acceptance rule to what it sees."""
    cur = frm
    while cur > to_excl:
        if splice is not None and cur != frm:
            entries = splice(cur)
            if entries is not None:
                for e in entries:
                    yield int(e["v"]), e
                return
        rec = _record(table_path, cur)
        yield cur, rec
        nxt = _parent(cur, rec)
        if not rec or nxt >= cur:
            return
        cur = nxt


def _chain(table_path: str, frm: int, to_excl: int) -> dict[int, dict] | None:
    """The records the walk from ``frm`` visits above ``to_excl`` — or
    None unless every one exists and the chain lands exactly on
    ``to_excl``."""
    out: dict[int, dict] = {}
    end = frm
    for v, rec in _walk(table_path, frm, to_excl):
        if not rec:
            return None
        out[v] = rec
        end = _parent(v, rec)
    return out if end == to_excl else None


# ---------------------------------------------------------------------------
# The commit protocol: versioned snapshots, time travel, rollback
# ---------------------------------------------------------------------------


class CommitConflict(FileExistsError):
    """A concurrent writer committed between this operation's entry
    and its commit-record write (or won the O_EXCL record race). The
    operation's inputs were derived from a now-stale version — the
    caller must RE-APPLY the whole logical operation against the new
    current version (ManagedTable.transact's retry loop), never just
    re-attempt the record write."""


def snapshot_max_commit(table_path: str) -> int:
    """The allocation high-water: the highest commit record ever
    written (0 for a fresh table). Ops capture this at ENTRY and pass
    it as ``expected_max`` so the commit layer can detect a competing
    record that landed while the op was deriving its write set.

    O(1), not O(records) (r12, verdict #4): record slots are
    allocated ``max+1`` and the commit log is never deleted, so the
    record set is CONTIGUOUS ``1..m`` — the high-water is found by
    probing upward from the ``_commits/_hw`` hint (bumped best-effort
    after every successful record put; a lagging hint only means a
    few extra probes, a missing one degrades to a full probe-walk
    from the pointer). At 10^6 versions this replaces a million-entry
    directory LIST per commit/resolve with ~2 stat calls — Delta's
    `_last_checkpoint` version-hint, applied to allocation."""
    cdir = _cdir(table_path)
    if not os.path.isdir(cdir):
        return 0
    store = get_log_store()
    m = max(_read_hw(cdir), snapshot_version(table_path), 0)
    # the hint may itself name a record that was never written (it is
    # only bumped AFTER a put, so normally not) — validate downward
    # once, then probe upward to the true high-water
    if m > 0 and not store.has_record(cdir, f"{m}.json"):
        vs = _versions(table_path)
        return max(vs) if vs else 0
    while store.has_record(cdir, f"{m + 1}.json"):
        m += 1
    return m


def _read_hw(cdir: str) -> int:
    try:
        with open(os.path.join(cdir, "_hw")) as f:
            return int(f.read().strip())
    except (OSError, ValueError):
        return 0


def _bump_hw(cdir: str, n: int) -> None:
    """Best-effort monotone bump of the allocation hint — written
    AFTER the record put, atomic replace, losers of a concurrent
    bump race can only leave the hint LOW (a lagging hint costs
    probes, never correctness)."""
    if n <= _read_hw(cdir):
        return
    tmp = os.path.join(cdir, f"._hw_{os.getpid()}.tmp")
    try:
        with open(tmp, "w") as f:
            f.write(str(n))
        os.replace(tmp, os.path.join(cdir, "_hw"))
    except OSError:
        pass


def _no_rename() -> bool:
    """Object-store mode (r13, verdict #1): with
    ``SPARK_GRAFT_NO_RENAME=1`` the cosmetic ``staging → v{n}`` rename
    is globally suppressed and every version is served through its
    staged name forever — proving the publish protocol's claim that
    the record put is the commit point and object stores (which lack
    atomic directory rename) need no rename at all. The flag is a
    DEPLOYMENT property: all readers and writers of a table must
    agree on it (mixing modes is fine for reads — ``dataset_dir``
    resolves both — but a normal-mode reader would repair-rename a
    no-rename table's dirs, which is harmless yet defeats the
    proof). Read per call so tests can flip it with monkeypatch."""
    return os.environ.get("SPARK_GRAFT_NO_RENAME", "") == "1"


def _finish_publish(staging: str, vdir: str) -> None:
    """Complete the cosmetic ``staging → v{n}`` rename AFTER the
    record put (the commit point). Tolerates LOSING the rename race
    (advice r13, medium): between this writer's record put and its
    rename, any concurrent op's ``dataset_dir``/``resolve_entry`` may
    roll the publish forward and perform the repair rename first —
    the writer's own rename then raises for a commit that actually
    SUCCEEDED (record durable, data servable), and a caller retrying
    on that error would double-apply the write. The commit is durable
    either way, so the rename error is swallowed whenever ``v{n}``
    exists (a repairer won) and re-raised only when it is also absent
    (real corruption — e.g. the staging dir was externally removed
    before anything could serve it)."""
    if _no_rename():
        return  # staged name IS the published name (object-store mode)
    try:
        os.rename(staging, vdir)
    except OSError:
        if not os.path.isdir(vdir):
            raise


def _check_expected_max(existing: list[int], expected_max: int | None) -> None:
    actual = max(existing) if existing else 0
    if expected_max is not None and actual != expected_max:
        raise CommitConflict(
            f"a concurrent commit advanced the table to record "
            f"v{actual} (this op entered at v{expected_max}) — the "
            "op's inputs are stale; re-apply against the current version"
        )


def _stamp_ts(extra: dict | None) -> dict:
    """Every commit record carries a wall-clock ``ts`` (epoch seconds,
    float) — the timestamp-time-travel anchor (Delta's `TIMESTAMP AS
    OF`). Callers (tests) may inject an explicit ts for determinism;
    production commits get the commit wall time."""
    import time

    e = dict(extra or {})
    e.setdefault("ts", time.time())
    return e


def _stamp_txn_hw(table_path: str, extra: dict) -> dict:
    """Fold the streaming-txn HIGH-WATER into the commit record at
    write time: ``txn_hw`` = max(parent's txn_hw, this commit's own
    txn marker). One tiny parent-record read per commit makes
    ``last_txn`` O(1) forever — no walk, no checkpoint dependency —
    while staying lineage-correct: a rollback's next commit chains
    from the rolled-back-to record, so orphaned branches' markers are
    never inherited (the r9 stale-marker rule, preserved by
    construction). Only applied when the caller supplied a ``parent``
    (ManagedTable commits); raw snapshot_commit_ref callers don't use
    txn markers."""
    if "parent" not in extra:
        return extra
    tid = extra.get("txn_id")
    hw = -1 if tid is not None else int(extra.get("txn", -1))
    rec = _record(table_path, int(extra["parent"]))
    if rec:
        hw = max(hw, int(rec.get("txn_hw", rec.get("txn", -1))))
    hw_by = dict(rec.get("txn_hw_by_id") or {})
    if tid is not None and "txn" in extra:
        # NAMESPACED marker (Delta's (appId, version) txn contract):
        # advances only its own id's high-water — a second streaming
        # query with a fresh checkpoint and its own id never has its
        # early batches dropped by another query's markers. Un-
        # namespaced markers keep the legacy global high-water.
        hw_by[str(tid)] = max(
            int(hw_by.get(str(tid), -1)), int(extra["txn"])
        )
    out = {**extra, "txn_hw": hw}
    if hw_by:
        out["txn_hw_by_id"] = hw_by
    return out


#: Lineage-checkpoint cadence: every K-th commit folds its whole
#: parent chain into one `_ckpts/_ckpt_{n}.json`, so lineage walks
#: (timestamp time travel, legacy txn scans) read ≤K records + one
#: checkpoint instead of O(versions) files — Delta's log-checkpoint
#: analogue. Best-effort: a missing checkpoint only means the walk
#: falls back to per-version records.
SNAPSHOT_CKPT_EVERY = 25

#: Representation crossover for lineage checkpoints (the manifest.py
#: dual-representation pattern applied to the commit log itself, r10
#: verdict #4): below this many lineage entries the checkpoint stays
#: one JSON file (parse cost ~µs/entry, zero extra deps on the read
#: path); at/above, it is written as ONE parquet file via pyarrow at
#: 10k rows/row-group — measured at 10⁵ versions
#: (scripts/scale.py lineage_pq, table in SCALE.md): 2.5×
#: smaller on disk (1.2 vs 3.0 MB) and the TIMESTAMP RESOLVE — the
#: hot consumer — answers from row-group stats + one group in 8 ms
#: vs the JSON twin's 77 ms full parse (9.4×; the no-checkpoint walk
#: pays 3.0 s). Full-chain loads (history audits, the next
#: checkpoint's splice) are the one axis JSON keeps (60 vs 184 ms:
#: C-json parse beats Arrow→Python dict materialization), which is
#: why auto mode keeps JSON below the threshold. Both
#: representations hold the identical {v, ts, txn?, txn_id?} chain;
#: readers try parquet first, then JSON, then fall back to the
#: per-record walk — every layer is exact, the formats only trade IO.
LINEAGE_CKPT_PQ_THRESHOLD = 20000


def _kdir(table_path: str) -> str:
    return os.path.join(table_path, "_ckpts")


def _ckpt_upto(kdir: str, v: int, probe: float) -> list[dict] | None:
    """Timestamp resolve THROUGH the checkpoint at version ``v``: the
    newest chain entry whose ts <= ``probe`` as a one-entry list, []
    when the whole checkpointed chain is newer than the probe, or None
    when no checkpoint exists at ``v`` (a :func:`_walk` splice).

    This is where the parquet representation earns its keep at
    10⁵–10⁶ versions: entries are newest-first, so ts is
    non-increasing, and row-group statistics prune the scan to ONE
    group (written at 10k rows/group) — the resolve reads stats plus
    ~10k entries instead of parsing the whole 3 MB JSON chain
    (measured: 85 ms → ~8 ms at 10⁵ versions, SCALE.md round 11).
    The JSON twin scans its parsed list — same answer, full parse."""
    pqp = os.path.join(kdir, f"_ckpt_{v}.parquet")
    if os.path.isfile(pqp):
        try:
            import pyarrow.parquet as pq

            pf = pq.ParquetFile(pqp)
            ts_idx = next(
                (
                    i
                    for i in range(pf.metadata.row_group(0).num_columns)
                    if pf.metadata.row_group(0).column(i).path_in_schema
                    == "ts"
                ),
                None,
            )
            if ts_idx is None:  # malformed checkpoint: full-read path
                raise KeyError("ts")
            for g in range(pf.metadata.num_row_groups):
                st = pf.metadata.row_group(g).column(ts_idx).statistics
                if st is not None and st.has_min_max and st.min > probe:
                    continue  # every ts in this group is newer
                tbl = pf.read_row_group(g, columns=["v", "ts"])
                for vv, ts in zip(
                    tbl.column("v").to_pylist(), tbl.column("ts").to_pylist()
                ):
                    if ts is not None and float(ts) <= probe:
                        return [{"v": int(vv), "ts": ts}]
            return []
        except (OSError, ValueError, KeyError, ImportError):
            pass  # fall through: treat like a JSON/absent checkpoint
    chain = _read_lineage_ckpt(kdir, v)
    if chain is None:
        return None
    return next(
        (
            [e]
            for e in chain
            if e.get("ts") is not None and float(e["ts"]) <= probe
        ),
        [],
    )


def _read_lineage_ckpt(kdir: str, v: int) -> list[dict] | None:
    """The checkpoint's folded chain at version ``v`` (newest-first),
    whichever representation it was written in, or None. Shared by
    the checkpoint writer's splice and TableLog._lineage."""
    pqp = os.path.join(kdir, f"_ckpt_{v}.parquet")
    if os.path.isfile(pqp):
        try:
            import pyarrow.parquet as pq

            tbl = pq.read_table(pqp)
            names = tbl.column_names
            vs = tbl.column("v").to_pylist()
            tss = tbl.column("ts").to_pylist()
            txns = (
                tbl.column("txn").to_pylist()
                if "txn" in names
                else [None] * len(vs)
            )
            tids = (
                tbl.column("txn_id").to_pylist()
                if "txn_id" in names
                else [None] * len(vs)
            )
            out = []
            # `vv`, not `v`: shadowing the version parameter would
            # make the JSON fallback below probe _ckpt_{last-entry}
            # instead of the requested checkpoint (advice r11)
            for vv, ts, txn, tid in zip(vs, tss, txns, tids):
                e = {"v": vv, "ts": ts}
                if txn is not None:
                    e["txn"] = txn
                if tid is not None:
                    e["txn_id"] = tid
                out.append(e)
            return out
        except (OSError, ValueError, KeyError, ImportError):
            pass
    jp = os.path.join(kdir, f"_ckpt_{v}.json")
    if os.path.isfile(jp):
        try:
            with open(jp) as f:
                return json.load(f)["lineage"]
        except (OSError, ValueError, KeyError):
            pass
    return None


def _maybe_write_lineage_ckpt(table_path: str, n: int) -> None:
    """After publishing commit ``n``: if n is on the checkpoint
    cadence, fold its parent chain into `_ckpts/_ckpt_{n}.json` —
    a newest-first list of minimal {v, ts, txn?} entries. Built by
    splicing the nearest ancestor checkpoint (so construction is
    O(cadence), not O(versions)) and published with tmp+replace.
    Lives in its own directory so `_commits/` keeps holding only
    numeric version records. Best-effort by design: any failure
    leaves the per-version-record walk intact."""
    if n % SNAPSHOT_CKPT_EVERY != 0:
        return
    kdir = _kdir(table_path)
    try:
        os.makedirs(kdir, exist_ok=True)
        entries = [
            {
                "v": v,
                "ts": rec.get("ts"),
                **{k: rec[k] for k in ("txn", "txn_id") if k in rec},
            }
            for v, rec in _walk(
                table_path, n, splice=lambda c: _read_lineage_ckpt(kdir, c)
            )
            if rec
        ]
        if len(entries) >= LINEAGE_CKPT_PQ_THRESHOLD:
            # parquet representation: one columnar file, written
            # driver-side with pyarrow (this is table METADATA — a
            # Spark job for a single small file would cost more than
            # it writes). tmp+replace keeps it crash-atomic.
            import pyarrow as pa
            import pyarrow.parquet as pq

            tbl = pa.table(
                {
                    "v": pa.array(
                        [int(e["v"]) for e in entries], pa.int64()
                    ),
                    "ts": pa.array(
                        [e.get("ts") for e in entries], pa.float64()
                    ),
                    "txn": pa.array(
                        [e.get("txn") for e in entries], pa.int64()
                    ),
                    "txn_id": pa.array(
                        [e.get("txn_id") for e in entries], pa.string()
                    ),
                }
            )
            tmp = os.path.join(kdir, f"_ckpt_{n}.parquet.tmp")
            # 10k rows/group: ts is non-increasing (newest-first), so
            # row-group min/max stats let a timestamp resolve read ONE
            # group instead of the whole chain (_ckpt_upto)
            pq.write_table(tbl, tmp, row_group_size=10_000)
            os.replace(tmp, os.path.join(kdir, f"_ckpt_{n}.parquet"))
        else:
            tmp = os.path.join(kdir, f"_ckpt_{n}.json.tmp")
            with open(tmp, "w") as f:
                json.dump({"version": n, "lineage": entries}, f)
            os.replace(tmp, os.path.join(kdir, f"_ckpt_{n}.json"))
        # retention: each checkpoint is O(versions) bytes, so keeping
        # them all costs O(V²/cadence) — measured 56 MB at 10k
        # versions. Keep the newest few (walks from the current head
        # always reach the newest one ≤ head; deleting older ones only
        # means an old-version walk falls back to per-record reads,
        # which stays correct). Both representations count in the
        # retention census.
        vs = set()
        for f in os.listdir(kdir):
            if f.startswith("_ckpt_") and (
                f.endswith(".json") or f.endswith(".parquet")
            ):
                vs.add(int(f[len("_ckpt_") :].split(".")[0]))
        for old in sorted(vs, reverse=True)[4:]:
            for suf in (".json", ".parquet"):
                p = os.path.join(kdir, f"_ckpt_{old}{suf}")
                if os.path.isfile(p):
                    os.remove(p)
    except (OSError, ValueError, KeyError, ImportError):
        pass  # best-effort: the walk fallback stays correct


def snapshot_commit_ref(
    table_path: str,
    populate,
    digest: dict,
    extra: dict | None = None,
    expected_max: int | None = None,
) -> int:
    """Append one immutable version to the versioned table at
    ``table_path`` and return its number — the minimal table-format
    contract (Delta/Iceberg's core) on plain parquet:

    * ``populate(dir)`` lays the version's content — data files, or
      metadata referencing an earlier version's files (a deletion-vector
      sidecar, a shallow clone), which is what lets a DELETE publish a
      new version of a 100 TB table by writing O(deleted-rows) bytes;
    * the commit record ``<path>/_commits/{n}.json`` carries ``digest``
      — the row count and order-free content digest of the version's
      LOGICAL rows (dataset_fingerprint's count/xor/sum triple), so any
      reader can audit a version without rescanning it;
    * publication is ONE atomic flip of the ``_latest`` pointer — a
      reader never sees a half-written table, and a crash before the
      record leaves the previous version current.

    Versions are never deleted here — time travel (`snapshot_read`
    with an explicit version) and `snapshot_rollback` stay valid for
    the table's whole history; retention (VACUUM) is a separate,
    explicitly destructive step.

    Concurrency (code-review r9/r10): ``populate`` writes into a
    PRIVATE staging directory; the O_EXCL commit record then decides
    the version race, and only the winner renames its staging into
    ``v{n}`` — a losing concurrent committer can never scribble over
    the winner's already-populated directory. The record names its
    staging dir (r12): a crash between record and rename leaves a
    COMPLETE commit served through ``dataset_dir``'s staged fallback
    — no burned slot, no unreadable version."""
    import shutil
    import uuid

    store = get_log_store()
    cdir = _cdir(table_path)
    os.makedirs(cdir, exist_ok=True)
    staging = os.path.join(table_path, f"_stage_{uuid.uuid4().hex[:12]}")
    os.makedirs(staging)
    committed = False
    try:
        populate(staging)
        # allocate from the HIGHEST COMMIT EVER, not the _latest
        # pointer: after a rollback the pointer is behind, and
        # pointer+1 would overwrite a published (immutable) snapshot.
        # O(1) via the _hw hint + contiguity probe (r12, verdict #4)
        existing = [snapshot_max_commit(table_path)]
        n = existing[0] + 1
        # OPTIMISTIC CONCURRENCY: (a) re-check the allocation
        # high-water AFTER the expensive populate — a competing record
        # that landed while this op derived its write set means the
        # inputs are stale (lost-update window; code-review r9) — and
        # (b) create the record with O_EXCL so two writers allocating
        # the same slot get exactly one winner. Both failure modes
        # raise CommitConflict: the fix is to RE-APPLY the logical op,
        # not re-write the record. `extra` rides in the SAME record
        # write (e.g. a streaming sink's batch-id txn marker) — the
        # marker and the commit it certifies publish atomically
        _check_expected_max(existing, expected_max)
        rec = {
            "version": n,
            # the record put is the COMMIT POINT (r12, verdict #2):
            # readers resolve the dataset through ``dataset_dir``
            # (staged fallback + repair rename) — Delta's
            # data-files-first order: data is durable BEFORE the
            # record that names it
            "staged": os.path.basename(staging),
            **digest,
            "dataset": f"v{n}",
            **_stamp_ts(_stamp_txn_hw(table_path, dict(extra or {}))),
        }
        if not store.put_record_if_absent(
            cdir, f"{n}.json", json.dumps(rec)
        ):
            raise CommitConflict(
                f"commit record v{n} already exists at {table_path} — a "
                "concurrent writer won the slot"
            )
        committed = True
        _bump_hw(cdir, n)  # keep the O(1) allocation hint fresh
        _finish_publish(staging, os.path.join(table_path, f"v{n}"))
        # monotone commit-path flip (advice r13 — never regress)
        store.publish_pointer_monotone(table_path, n)
        _maybe_write_lineage_ckpt(table_path, n)
        return n
    finally:
        # once the record is put the staged data IS the committed
        # version — a failure between record and rename must leave it
        # for dataset_dir's repair, never delete it (r12)
        if not committed:
            shutil.rmtree(staging, ignore_errors=True)


def snapshot_version(table_path: str) -> int:
    """Current published version (0 = empty table)."""
    p = os.path.join(table_path, "_latest")
    if not os.path.exists(p):
        return 0
    with open(p) as f:
        return int(f.read().strip())


def dataset_dir(table_path: str, v: int) -> str | None:
    """Resolve version ``v``'s data directory, repairing an
    interrupted publish (r12, verdict #2): prefer ``v{n}``; when it
    is missing, fall back to the staging dir the commit record names
    (``staged``) — the record put is the commit point and the staged
    data is durable before it, so a crash between record and rename
    leaves a COMPLETE, servable commit. The fallback attempts the
    rename itself (idempotent under races: exactly one renamer wins,
    losers re-probe ``v{n}``), so one repaired resolve heals the
    table for every later reader. Returns None only when the record
    is absent or names data that genuinely does not exist (a
    pre-inversion burned slot — ``resolve_entry`` marks those
    aborted)."""
    vdir = os.path.join(table_path, f"v{v}")
    if os.path.isdir(vdir):
        return vdir
    try:
        staged = _record(table_path, v).get("staged")
    except (OSError, ValueError):
        return None
    if not staged:
        return None
    sp = os.path.join(table_path, staged)
    if os.path.isdir(sp):
        if _no_rename():
            return sp  # object-store mode: staged names are final
        try:
            os.rename(sp, vdir)  # complete the interrupted publish
        except OSError:
            pass  # a racing repairer won — re-probe below
    if os.path.isdir(vdir):
        return vdir
    return sp if os.path.isdir(sp) else None


def resolve_rel(table_path: str, rel: str) -> str:
    """Resolve a TABLE-RELATIVE dataset reference stored in version
    metadata (``"v5"``, ``"v5/_upd"``) to a concrete path. Logical
    ``v{n}`` names resolve through :func:`dataset_dir`, so a
    never-renamed publish — the crash window between record put and
    rename, or the object-store no-rename mode where the rename never
    happens at all — serves exactly like a renamed one. Staged
    basenames stored by no-rename writers (``_base_ref`` records the
    resolved basename) and any other relative name join directly.
    Every read-time consumer of ``base``/``appends`` entries resolves
    through this one rule (r13, verdict #1: the direct
    ``os.path.join(path, f"v{{n}}")`` constructions were exactly the
    hidden rename dependencies the no-rename proof flushed out)."""
    import re

    m = re.match(r"^v(\d+)(/.*)?$", rel)
    if m:
        d = dataset_dir(table_path, int(m.group(1)))
        if d is not None:
            return d + (m.group(2) or "")
    return os.path.join(table_path, rel)


def _abandoned_dir(table_path: str) -> str:
    return os.path.join(table_path, "_abandoned")


def abandoned_records(table_path: str) -> set[int]:
    """Record numbers rolled off the chain by ``snapshot_rollback``
    (the ledger that makes abandoned-vs-in-flight decidable at op
    entry — see ``resolve_entry``). Union of all ledger files:
    append-only, uniquely named, so concurrent rollbacks never race
    on a shared file."""
    adir = _abandoned_dir(table_path)
    out: set[int] = set()
    if not os.path.isdir(adir):
        return out
    for f in os.listdir(adir):
        if not f.endswith(".json"):
            continue
        try:
            with open(os.path.join(adir, f)) as fh:
                out.update(int(x) for x in json.load(fh))
        except (OSError, ValueError):
            continue  # a torn ledger file only weakens the hint
    return out


def mark_abandoned(table_path: str, versions: list[int]) -> None:
    """Append ``versions`` to the abandoned ledger (one new uniquely
    named file — crash-safe, no read-modify-write)."""
    import uuid

    if not versions:
        return
    adir = _abandoned_dir(table_path)
    os.makedirs(adir, exist_ok=True)
    tmp = os.path.join(adir, f".{uuid.uuid4().hex[:12]}.tmp")
    with open(tmp, "w") as f:
        json.dump(sorted(int(v) for v in versions), f)
    os.replace(tmp, os.path.join(adir, f"{uuid.uuid4().hex[:12]}.json"))


def resolve_entry(table_path: str) -> tuple[int, int]:
    """(parent_version, expected_max) for an optimistic op's entry —
    the gap between the ``_latest`` pointer and the record high-water
    RESOLVED instead of assumed (r12; closes the entry twin of the
    absorb-retry lost-update race from advice r11):

    * gap records in the abandoned ledger are rollback leftovers —
      the op may chain past them (parent = pointer, expected_max =
      high-water), exactly the pre-r12 behavior;
    * gap records NOT in the ledger are completed commits whose
      pointer flip never landed (crash, or a flip in flight right
      now) — their data is durable before the record put (the
      inverted publish order), so the entry ROLLS THEM FORWARD:
      repair-resolve their datasets, publish the pointer at the gap
      chain's head, and re-read. An op entering a crashed-mid-publish
      table silently completes the crashed commit instead of
      chaining past it and dropping its rows;
    * a gap record with no data at all (pre-inversion burned slot) is
      marked aborted in the ledger so allocation steps past it and
      time travel names the abort instead of hanging on it forever.

    Falls back to CommitConflict only when the gap cannot be proven
    either way after bounded retries (e.g. a rollback racing a
    writer) — loud and safe, never a silent lost update."""
    import time

    for _ in range(8):
        m = snapshot_max_commit(table_path)  # O(1): hint + probe
        v = snapshot_version(table_path)
        if m <= v:
            return v, max(v, m)
        # slots are contiguous (allocation is max+1, log never
        # deleted) — the gap is exactly the integer range
        gap = list(range(v + 1, m + 1))
        pending = [r for r in gap if r not in abandoned_records(table_path)]
        if not pending:
            return v, m
        # aborted slots: record without data (pre-inversion crash
        # window) — mark and re-evaluate
        dead = [r for r in pending if dataset_dir(table_path, r) is None]
        if dead:
            mark_abandoned(table_path, dead)
            continue
        # prove the pending set is one chain rooted at the pointer
        chain = _chain(table_path, max(pending), v)
        if chain is not None and set(pending) <= set(chain):
            # monotone: a concurrent committer may have published a
            # NEWER head while this walk ran — never regress to the
            # gap head this entry computed (advice r13, low)
            get_log_store().publish_pointer_monotone(table_path, max(pending))
            continue  # re-read: pointer now covers the gap
        time.sleep(0.05)  # an in-flight writer/rollback — let it land
    raise CommitConflict(
        f"cannot classify commit records above the published pointer at "
        f"{table_path} (pointer v{snapshot_version(table_path)}, records "
        f"to v{m}) — a rollback may be racing a writer; retry the op"
    )


def snapshot_read(spark, table_path: str, version: int | None = None):
    """Read the table AS OF ``version`` (time travel) or the latest
    published snapshot. Raises on a version that was never published —
    a silent empty read would poison downstream joins."""
    v = snapshot_version(table_path) if version is None else version
    data = dataset_dir(table_path, v) if v >= 1 else None
    if data is None:
        raise ValueError(f"snapshot v{v} does not exist at {table_path}")
    return spark.read.parquet(data)


def snapshot_rollback(table_path: str, version: int) -> None:
    """Point ``_latest`` back at an earlier version — O(1), no data
    movement, and the rolled-past versions stay readable (an audit can
    still time-travel into the bad commit). The rolled-off chain
    records are appended to the abandoned LEDGER *before* the pointer
    moves (r12): without it, a later op's entry cannot distinguish
    "record above the pointer because it was rolled off" from "record
    above the pointer because its writer's flip is still in flight" —
    and the in-flight case must roll FORWARD, not be chained past. A
    crash between ledger and flip is harmless: the records are still
    on the published chain, and ledger entries only classify records
    ABOVE the pointer."""
    if dataset_dir(table_path, version) is None:
        raise ValueError(f"snapshot v{version} does not exist at {table_path}")
    off_chain = [
        v for v, _ in _walk(table_path, snapshot_version(table_path), version)
    ]
    mark_abandoned(table_path, off_chain)
    get_log_store().publish_pointer(table_path, version)


def _retained(table_path: str, keep_last: int) -> tuple[list[int], set[int]]:
    """(every record's version, the versions retention keeps): the last
    ``keep_last`` records, the currently published version and
    anything newer than it (a rollback target must stay rollback-able
    forward) — the survivor set both vacuums start from."""
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    versions = _versions(table_path)
    current = snapshot_version(table_path)
    return versions, set(versions[-keep_last:]) | {
        v for v in versions if v >= current
    }


def _remove_versions(
    table_path: str, versions: list[int], keep: set[int], dry_run: bool
) -> list[int]:
    """Delete the data of every version outside ``keep`` (with
    ``dry_run``, only name them), then sweep orphan staging dirs.
    Returns the versions removed."""
    import shutil

    if not os.path.isdir(_cdir(table_path)):
        return []
    removed = []
    for v in versions:
        if v in keep:
            continue
        # resolve through dataset_dir: a never-renamed publish (crash
        # window, or object-store no-rename mode) keeps its data under
        # the staged name the commit record references
        data = dataset_dir(table_path, v)
        if data is not None and os.path.isdir(data):
            if not dry_run:
                shutil.rmtree(data)
            removed.append(v)
    if not dry_run:
        clean_staging(table_path)
    return removed


def snapshot_vacuum(table_path: str, keep_last: int = 2) -> list[int]:
    """Retention — the explicitly DESTRUCTIVE step commit/rollback
    never perform: delete snapshot data older than the last
    ``keep_last`` versions, never touching (a) the currently published
    version, (b) anything newer than it (a rollback target must stay
    rollback-able forward), or (c) the commit log (history metadata
    survives vacuum; time-traveling into a vacuumed version raises
    the loud snapshot_read error, not an empty read).
    ManagedTable.vacuum starts from the same survivor set
    (:func:`_retained`) and adds the base snapshots its deletion
    vectors point into. Returns the versions removed."""
    versions, keep = _retained(table_path, keep_last)
    return _remove_versions(table_path, versions, keep, False)


def clean_staging(
    table_path: str, older_than_s: float = 3600.0
) -> list[str]:
    """Reclaim ORPHAN staging dirs — debris of writers that crashed
    BEFORE their record put (r12: nothing durable, the commit never
    existed). Two guards keep this safe to run any time:

    * a staging dir referenced as ``staged`` by a commit record whose
      ``v{n}`` rename hasn't happened yet IS the committed version's
      data — never touched (dataset_dir's repair will rename it);
    * an UNREFERENCED dir younger than ``older_than_s`` may belong to
      a writer that simply hasn't reached its record put — left
      alone (the in-flight window is seconds; the default grace is
      an hour).

    The record census goes through the LogStore (:func:`_versions`),
    so a claimed-but-unmaterialized record still protects its staged
    dir. Returns the paths removed. Called from every real vacuum
    (:func:`_remove_versions`), also callable directly for maintenance."""
    import shutil
    import time

    referenced: set[str] = set()
    for v in _versions(table_path):
        if os.path.isdir(os.path.join(table_path, f"v{v}")):
            continue  # renamed: its staged name is historical
        try:
            staged = _record(table_path, v).get("staged")
        except (OSError, ValueError):
            continue
        if staged:
            referenced.add(staged)
    now = time.time()
    removed: list[str] = []
    for name in os.listdir(table_path):
        if not name.startswith("_stage_") or name in referenced:
            continue
        p = os.path.join(table_path, name)
        try:
            if now - os.path.getmtime(p) < older_than_s:
                continue
            shutil.rmtree(p)
            removed.append(p)
        except OSError:
            continue  # racing writer finished/renamed it: fine
    return removed


def snapshot_history(spark, table_path: str):
    """The commit log as a DataFrame: (version, dataset, n_rows,
    xor_hash, sum_hash_mod) — what `DESCRIBE HISTORY` is to Delta."""
    return spark.createDataFrame(
        [_record(table_path, v) for v in _versions(table_path)],
        "version long, dataset string, n_rows long, xor_hash long, sum_hash_mod long",
    )


# ---------------------------------------------------------------------------
# TableLog
# ---------------------------------------------------------------------------


def _fold_digest(
    parent: dict, plus: dict | None = None, minus: dict | None = None
) -> dict:
    """``parent`` + ``plus`` − ``minus`` on commit digests. Count,
    bit-XOR and sum mod 2^60 are group operations, so a reference
    commit's digest derives exactly from its parent record and the
    digests of the rows it adds and removes. NULL xor/sum (aggregates
    over zero rows) are the group identity 0."""
    z = dict.fromkeys(_DIGEST, 0)
    plus, minus = plus or z, minus or z
    return {
        "n_rows": parent["n_rows"] + plus["n_rows"] - minus["n_rows"],
        "xor_hash": (parent["xor_hash"] or 0)
        ^ (plus["xor_hash"] or 0)
        ^ (minus["xor_hash"] or 0),
        "sum_hash_mod": (
            (parent["sum_hash_mod"] or 0)
            + (plus["sum_hash_mod"] or 0)
            - (minus["sum_hash_mod"] or 0)
        )
        % _MOD,
    }


def _tombstoned(d: str) -> list[str]:
    """Basenames ``reclaim_dead`` removed from data dir ``d`` (its
    ``_vacuumed.json`` tombstone; [] when there is none)."""
    tp = os.path.join(d, "_vacuumed.json")
    if not os.path.isfile(tp):
        return []
    with open(tp) as f:
        return json.load(f).get("files", [])


def _tombstone(d: str, names: set[str]) -> None:
    """Merge ``names`` into data dir ``d``'s tombstone — crash-atomic
    (tmp + replace, like ``_table.json``), and written BEFORE the
    files are deleted."""
    tp = os.path.join(d, "_vacuumed.json")
    tmp = tp + ".tmp"
    with open(tmp, "w") as f:
        json.dump({"files": sorted(set(_tombstoned(d)) | names)}, f)
    os.replace(tmp, tp)


def _config_file(path: str) -> str:
    return os.path.join(path, "_table.json")


def has_config(path: str) -> bool:
    """Whether a managed table's ``_table.json`` config exists at ``path``."""
    return os.path.isfile(_config_file(path))


def create_config(path: str, config: dict) -> None:
    """Write a NEW table's ``_table.json`` under ``path`` (made if
    missing) with O_EXCL: a second concurrent create loses loudly,
    the commit-record race applied to the table itself."""
    os.makedirs(path, exist_ok=True)
    with open(_config_file(path), "x") as f:
        json.dump(config, f)


def save_config(path: str, config: dict) -> None:
    """Replace ``path``'s ``_table.json`` crash-atomically (tmp +
    replace): an in-place write leaves a truncated config on a
    mid-write crash, which bricks every later open."""
    import uuid

    tmp = f"{_config_file(path)}.tmp_{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as f:
        json.dump(config, f)
    os.replace(tmp, _config_file(path))


class TableLog:
    """A managed table's version log at ``path`` — config, records,
    file universes and the reference-commit publish, without Spark."""

    def __init__(self, path: str):
        self.path = path
        if not has_config(path):
            raise ValueError(f"no managed table at {path} (missing _table.json)")
        with open(_config_file(path)) as f:
            meta = json.load(f)
        self.key: list[str] = meta["key"]
        self.stat_cols: list[str] = meta.get("stat_cols", [])
        self.constraints: dict[str, str] = meta.get("constraints", {})
        self.bloom_col: str | None = meta.get("bloom_col")
        self.bloom_m: int = meta.get("bloom_m", 131072)
        self.bloom_k: int = meta.get("bloom_k", 5)
        # zone-map manifest representation: "auto" (default — JSON
        # below PARQUET_MANIFEST_THRESHOLD files, distributed parquet
        # at/above), or pinned "json"/"parquet" (operators/manifest.py)
        self.manifest_format: str = meta.get("manifest_format", "auto")
        # logical name → [sql_type, default_sql] applied when a WRITE
        # omits the column (Delta's DEFAULT semantics; add_column)
        self.column_defaults: dict[str, list] = meta.get(
            "column_defaults", {}
        )
        # protocol feature gating (Delta's reader-feature contract):
        # ops whose metadata an OLDER reader would silently misread —
        # dead-file exclusion (resurrected victims), widened types —
        # stamp their feature into _table.json on first use; a reader
        # that doesn't know a listed feature must refuse the whole
        # table rather than serve wrong rows
        self.required_features: list[str] = meta.get(
            "required_features", []
        )
        unknown = set(self.required_features) - SUPPORTED_FEATURES
        if unknown:
            raise ValueError(
                f"table at {path} requires reader features "
                f"{sorted(unknown)} this build does not support — "
                "refusing to open (reads would be silently wrong)"
            )

    def version(self) -> int:
        return snapshot_version(self.path)

    # -- commit records ------------------------------------------------------

    def _record(self, v: int) -> dict:
        """Version ``v``'s commit record ({} when there is none)."""
        return _record(self.path, v)

    def _version_map(self, v: int) -> list[list[str]] | None:
        """The [logical, physical] column map RECORDED with version
        ``v`` (None = identity, the pre-mapping default). Versioned in
        the commit record itself, so time travel and CDC each see the
        schema their version was published under."""
        return self._record(v).get("columns")

    def _version_added(self, v: int) -> dict[str, str]:
        """physical-name → SQL-type map of columns ADDED to version
        ``v`` as pure metadata (``ManagedTable.add_column`` — no data
        rewrite) and not yet materialized by a copy commit: files
        written before the add lack these physical columns, and every
        read backfills them (Delta's ADD COLUMN read semantics)."""
        return self._record(v).get("added") or {}

    def _version_widened(self, v: int) -> dict[str, str]:
        """physical-name → widened SQL-type map of version ``v``
        (``widen_column`` — ALTER COLUMN TYPE as pure metadata): files
        written before the widen keep the narrow physical type, and
        every read upcasts them. A copy commit materializes the wide
        type and drops the marker, exactly the ``added`` lifecycle."""
        return self._record(v).get("widened") or {}

    # -- the file universe of a version -------------------------------------

    def _vdir(self, v: int) -> str:
        """Version ``v``'s data directory, RESOLVED through
        dataset_dir (r13): a never-renamed publish — the crash window
        between record put and rename, or object-store no-rename mode
        — lives under the staged name its commit record references,
        and every metadata/sidecar consumer must find it there. Falls
        back to the logical ``v{n}`` name when the version does not
        resolve (caller probes existence anyway)."""
        return dataset_dir(self.path, v) or os.path.join(
            self.path, f"v{v}"
        )

    @staticmethod
    def _dv_ref(vdir: str | None) -> dict | None:
        """The ``_dv.json`` pointer of a reference version's dir (None
        for a copy commit or an unresolved version) — its one reader."""
        meta = os.path.join(vdir, "_dv.json") if vdir else ""
        if not meta or not os.path.isfile(meta):
            return None
        with open(meta) as f:
            return json.load(f)

    @staticmethod
    def _write_dv_ref(vdir: str, ref: dict) -> None:
        """Lay the ``_dv.json`` pointer ``ref`` into ``vdir`` — its one
        writer; each caller builds its own pointer."""
        with open(os.path.join(vdir, "_dv.json"), "w") as f:
            json.dump(ref, f)

    def _resolve(self, v: int) -> tuple[str, str | None, list[str]]:
        """(data_dir, dv_dir|None, append_dirs) for version ``v`` —
        data_dir holds the parquet files (the version's own for a copy
        commit, the referenced base snapshot's for a reference commit);
        ``append_dirs`` are extra parquet directories UNIONED into the
        version's file universe (merge-on-read UPDATE writes its
        rewritten rows there; the version's logical content is
        base ∪ appends − DV). An ``appends`` entry is ``"self"`` (this
        version's own ``_upd`` dir — the name is resolved only here,
        because at populate time the final version number is unknown),
        a table-relative path like ``"v5/_upd"``, or absolute (clones).
        Raises loudly on versions that don't exist or whose referenced
        dirs were vacuumed away — never a silent partial read."""
        # dataset_dir repairs an interrupted publish (r12): a commit
        # that crashed between record put and the v{n} rename still
        # serves — and the repair rename heals the path for every
        # direct v{n} consumer downstream
        vdir = dataset_dir(self.path, v) if v >= 1 else None
        if vdir is None:
            raise ValueError(f"snapshot v{v} does not exist at {self.path}")
        m = self._dv_ref(vdir)
        if m is None:
            return vdir, None, []
        # logical v{n} entries resolve through dataset_dir (r13: a
        # never-renamed publish serves); staged basenames join direct
        base = (
            resolve_rel(self.path, m["base"])
            if "base" in m
            else m["base_abs"]
        )
        if not os.path.isdir(base):
            raise ValueError(
                f"snapshot v{v} references base {base}, which no longer "
                "exists (vacuumed source?) — refusing a partial read"
            )
        appends = []
        for a in m.get("appends", []):
            p = (
                os.path.join(vdir, "_upd")
                if a == "self"
                else (a if os.path.isabs(a) else resolve_rel(self.path, a))
            )
            if not os.path.isdir(p):
                raise ValueError(
                    f"snapshot v{v} references appended rows at {p}, which "
                    "no longer exist (vacuumed?) — refusing a partial read"
                )
            appends.append(p)
        return base, os.path.join(vdir, "_dv"), appends

    def _rebase_appends(self, v: int) -> list[str]:
        """Version ``v``'s appends list as a CHILD version must record
        it: ``"self"`` entries become the parent's concrete dir; other
        entries carry through unchanged. "self" rebases to the LOGICAL
        name — resolve_rel maps it back through dataset_dir at read
        time, so the stored metadata stays mode- and
        relocation-independent."""
        m = self._dv_ref(dataset_dir(self.path, v)) or {}
        return [f"v{v}/_upd" if a == "self" else a for a in m.get("appends", [])]

    def _dead_of(self, v: int) -> list[str]:
        """Raw stored ``dead`` file list of version ``v`` — files a
        minor COMPACTION (:meth:`~.table_compact._CompactMixin.compact`)
        excluded from the version's universe after rewriting their
        survivors into an ``_upd`` dir. Entries are table-relative when
        the file lives under this root (the DV storage convention —
        relocation-safe) and absolute for clone-source files. Child
        reference commits carry the list verbatim; [] on copy commits
        and pre-compaction refs."""
        return (self._dv_ref(dataset_dir(self.path, v)) or {}).get("dead") or []

    def _dead_abs(self, v: int) -> set[str]:
        """Version ``v``'s dead files as normalized ABSOLUTE paths —
        the form data opens compare directory listings against.
        O(dead files) driver work, bounded by compaction's victim
        lists."""
        root = os.path.abspath(self.path)
        return {
            e if os.path.isabs(e) else os.path.join(root, e)
            for e in self._dead_of(v)
        }

    def _check_tombstones(
        self, v: int, paths: Sequence[str], dead: set[str]
    ) -> None:
        """File-level-vacuum guard: a directory among ``paths`` that
        lost files to reclaim_dead serves version ``v`` ONLY if ``v``
        already counts every removed file dead (``dead``, absolute) —
        anything else is a version aged out of retention, and it must
        fail loudly, never read partial (the dir-level vacuum contract
        at file granularity). File paths in ``paths`` pass."""
        for p in paths:
            removed = {os.path.abspath(os.path.join(p, b)) for b in _tombstoned(p)}
            if not removed <= dead:
                raise ValueError(
                    f"snapshot v{v} reads files vacuumed from {p} "
                    "(reclaim_dead) — this version is outside the "
                    "retention window; refusing a partial read"
                )

    @staticmethod
    def _append_files(append_dirs: Sequence[str]) -> list[str]:
        return [
            os.path.join(d, f)
            for d in append_dirs
            for f in sorted(os.listdir(d))
            if f.startswith("part-")
        ]

    def table_fields(self, version: int | None = None) -> tuple:
        """((logical, physical, sql_type), ...) of a table version —
        derived from one live data file's parquet schema plus the
        commit record's column map, added-column markers, and widened
        type overrides (:func:`footer_types`). The schema the pyarrow
        DataSources declare."""
        v = self.version() if version is None else int(version)
        if v < 1:
            raise ValueError(f"no published version at {self.path}")
        rec = self._record(v)
        data_dir, _, appends = self._resolve(v)
        dead = self._dead_abs(v)
        sample = next(
            (
                f
                for f in self._append_files([data_dir, *appends])
                if os.path.abspath(f) not in dead
            ),
            None,
        )
        if sample is None:
            raise ValueError(f"no data files under {self.path} v{v}")
        types = footer_types(sample, rec.get("widened"), rec.get("added"))
        vmap = rec.get("columns")
        if vmap:
            return tuple((l, p, types.get(p, "string")) for l, p in vmap)
        return tuple((c, c, t) for c, t in types.items())

    # -- the published chain ------------------------------------------------

    def _walk_range(self, frm: int, to_excl: int) -> dict[int, dict] | None:
        """Records on the published parent chain from ``frm`` down to
        (exclusive) ``to_excl`` — or None when the chain can't be
        proven to cover exactly the allocated records in that range:
        a record in the range that is NOT on the chain is either an
        in-flight winner (its pointer flip hasn't landed yet) or an
        orphan, and neither can be classified safely."""
        out = _chain(self.path, frm, to_excl)
        if out is None or set(out) != set(range(to_excl + 1, frm + 1)):
            return None
        return out

    def _lineage(self):
        """Yield (version, record) walking PARENT POINTERS back from
        the current version — the published chain, which excludes
        orphaned commits and rolled-back branches — for the streaming
        txn cursor. Spliced through a lineage CHECKPOINT
        (`_ckpts/_ckpt_{v}.json`, or `.parquet` above
        LINEAGE_CKPT_PQ_THRESHOLD entries; written every
        SNAPSHOT_CKPT_EVERY commits) when the walk reaches one:
        O(cadence) record reads + one checkpoint read, not
        O(versions), Delta's log-checkpoint analogue. Checkpoint
        entries carry the minimal {v, ts, txn?} fields the walk's
        consumers read."""
        kdir = _kdir(self.path)
        for v, rec in _walk(
            self.path, self.version(), splice=lambda c: _read_lineage_ckpt(kdir, c)
        ):
            if rec:
                yield v, rec

    def _resolve_ts_version(self, ts: float) -> int:
        """The version ``as_of(ts)`` serves — the newest LINEAGE
        version whose commit time is ≤ ``ts``, pure metadata. Walks
        the head segment per-record; on reaching a checkpointed
        version, resolves THROUGH the checkpoint (:func:`_ckpt_upto`:
        parquet checkpoints answer from row-group stats + one group
        instead of a full chain parse)."""
        kdir = _kdir(self.path)
        for v, rec in _walk(
            self.path, self.version(), splice=lambda c: _ckpt_upto(kdir, c, ts)
        ):
            if float(rec.get("ts", float("inf"))) <= ts:
                return v
        raise ValueError(
            f"no published version at or before ts={ts} on the current "
            f"lineage of {self.path}"
        )

    def last_txn(self, txn_id: str | None = None) -> int:
        """High-water txn marker over the published LINEAGE — the
        streaming sink's exactly-once cursor, Delta's txn/appId
        contract. O(1): every commit record carries ``txn_hw`` —
        max(parent's high-water, own marker), folded forward at commit
        time (:func:`_stamp_txn_hw`) — so reading the CURRENT record
        answers without any walk, even after 10⁶ commits. Lineage-
        correct by construction: a rollback's next commit chains from
        the rolled-back-to record, so orphaned branches' markers are
        never inherited and their batches correctly RE-apply on replay
        (the r9 stale-marker rule). Legacy records without the field
        fall back to the parent-pointer walk (first marker found =
        high-water, since batch ids are monotone along a chain).
        Returns -1 when no lineage commit carries a marker.

        ``txn_id`` selects a NAMESPACED marker stream (Delta's
        (appId, version) txn contract): only commits stamped with
        that id count, read O(1) from the record's ``txn_hw_by_id``
        map — so independent streaming queries writing one table
        keep independent replay cursors."""
        rec = self._record(self.version())
        if rec:
            if txn_id is not None:
                return int(
                    (rec.get("txn_hw_by_id") or {}).get(str(txn_id), -1)
                )
            if "txn_hw" in rec:
                return int(rec["txn_hw"])
        if txn_id is not None:
            for _, rec in self._lineage():
                if "txn" in rec and str(rec.get("txn_id")) == str(txn_id):
                    return int(rec["txn"])
            return -1
        for _, rec in self._lineage():
            if "txn" in rec and "txn_id" not in rec:
                return int(rec["txn"])
        return -1

    # -- laying and publishing a reference commit ---------------------------

    def _base_ref(self, data_dir: str) -> dict:
        """The _dv.json base pointer for a reference commit chaining
        from ``data_dir``: table-relative when the base lives in this
        table (vacuum can then pin it), absolute when it lives in a
        CLONE source outside this table's directory."""
        in_table = os.path.dirname(
            os.path.normpath(data_dir)
        ) == os.path.normpath(self.path)
        return (
            {"base": os.path.basename(data_dir)}
            if in_table
            else {"base_abs": data_dir}
        )

    @staticmethod
    def _inherit_sidecars(src_vdir: str, dst_vdir: str) -> None:
        import shutil

        for sidecar in ("_manifest.json", "_bloom.json"):
            p = os.path.join(src_vdir, sidecar)
            if os.path.isfile(p):
                shutil.copyfile(p, os.path.join(dst_vdir, sidecar))
        # parquet-mode manifests keep their relation in _manifest_pq/
        # (_bloom_pq/) next to the pointer record — inherit it whole
        # (O(manifest bytes), never O(data))
        for rel in ("_manifest_pq", "_bloom_pq"):
            pq = os.path.join(src_vdir, rel)
            if os.path.isdir(pq):
                dst = os.path.join(dst_vdir, rel)
                shutil.rmtree(dst, ignore_errors=True)
                shutil.copytree(pq, dst)

    @staticmethod
    def _link_files(src: str, dst: str) -> None:
        """Lay every file of ``src`` into the ``dst`` dir. LINK, not
        move: a conflicting commit attempt's staging is wiped, and the
        written files must outlive it for the retry. Hard links make
        that free on one filesystem (the table IS one directory tree);
        copy2 is the cross-device fallback."""
        import shutil

        os.makedirs(dst, exist_ok=True)
        for fn in os.listdir(src):
            s, d = os.path.join(src, fn), os.path.join(dst, fn)
            try:
                os.link(s, d)
            except OSError:
                shutil.copy2(s, d)

    @staticmethod
    def _carry_dv(dv_dir: str | None, vdir: str) -> None:
        """Lay the parent's deletion vector into ``vdir/_dv`` unchanged
        — a byte copy of its files (entries are table-relative, so they
        stay valid) — or, when the parent has none, an empty
        ``_file string, _pos long`` parquet. No Spark job either way:
        a DV-carrying commit (append, restore, schema change) changes
        no row address."""
        import shutil

        dst = os.path.join(vdir, "_dv")
        if dv_dir is not None:
            shutil.copytree(dv_dir, dst)
            return
        import pyarrow as pa
        import pyarrow.parquet as pq

        os.makedirs(dst)
        pq.write_table(
            pa.table(
                {
                    "_file": pa.array([], pa.string()),
                    "_pos": pa.array([], pa.int64()),
                }
            ),
            os.path.join(dst, "part-00000-empty.parquet"),
        )

    def _lay_ref(
        self, vdir: str, p: int, hits=None, upd: str | None = None
    ) -> None:
        """Lay a reference commit over version ``p``'s file universe into
        ``vdir``: ``upd``'s written files as the version's own ``_upd``
        dir, ``p``'s deletion vector unioned with the ``hits`` positions
        (a ``(_file, _pos)`` DataFrame, written through its own session)
        or carried unchanged, the ``_dv.json`` pointer, and ``p``'s
        sidecars — superset sidecars stay conservative-correct under a
        DV (extra hits cost a file read, never a row), and laid here
        they publish atomically with the version (code-review r9)."""
        data_dir, dv_dir, _ = self._resolve(p)
        if upd is not None:
            self._link_files(upd, os.path.join(vdir, "_upd"))
        if hits is None:
            self._carry_dv(dv_dir, vdir)
        else:
            if dv_dir is not None:
                hits = (
                    hits.sparkSession.read.parquet(dv_dir)
                    .select("_file", "_pos")
                    .unionByName(hits)
                )
            hits.write.mode("overwrite").parquet(os.path.join(vdir, "_dv"))
        # a base in a CLONE source keeps its absolute reference form;
        # inherited appended-row dirs stay part of the file universe
        ref = self._base_ref(data_dir)
        appends = self._rebase_appends(p) + (["self"] if upd else [])
        if appends:
            ref["appends"] = appends
        if self._dead_of(p):
            ref["dead"] = self._dead_of(p)
        self._write_dv_ref(vdir, ref)
        self._inherit_sidecars(self._vdir(p), vdir)

    #: the record put every reference commit goes through —
    #: ManagedTable resolves it through its own module's name
    _commit_ref = staticmethod(snapshot_commit_ref)

    def _publish(
        self,
        v: int,
        m: int,
        op: str,
        lay: Callable[[str, int], None],
        plus: dict | None = None,
        minus: dict | None = None,
        commutes: Callable[[int, int], bool] | None = None,
        extra: dict | None = None,
        src: int | None = None,
    ) -> int:
        """Publish a reference commit chaining on version ``v``, for an
        op that entered at allocation high-water ``m``. ``lay(vdir,
        parent)`` lays the version's content; the record carries the
        digest of ``src``'s record (default: the parent's) folded with
        ``plus`` − ``minus``, and that record's ``columns``, ``added``
        and ``widened`` entries (a reference commit serves the same
        files, so metadata-added columns still need backfill), under
        ``extra``.

        On a CommitConflict, ``commutes(m, head)`` says whether every
        commit that landed after ``m`` commutes with this op. If so,
        the op rebases onto ``head`` — re-laid, digest re-folded — and
        retries, at most 5 times; otherwise (or with no ``commutes``)
        the conflict surfaces and transact() re-applies the op. The
        head is pinned ONCE and becomes BOTH the classification bound
        and the retry's expected_max: snapshot_max_commit here would
        let an in-flight commit (record landed, pointer flip pending)
        pass the stale-inputs check while the rebase chains past it —
        a lost update (advice r11)."""
        attempts = 0
        while True:
            rec = self._record(v if src is None else src)
            ext = {k: rec[k] for k in ("columns", "added", "widened") if rec.get(k)}
            ext.update(extra or {}, parent=v, op=op)
            try:
                return self._commit_ref(
                    self.path,
                    lambda vdir, p=v: lay(vdir, p),
                    digest=_fold_digest(rec, plus, minus),
                    extra=ext,
                    expected_max=m,
                )
            except CommitConflict:
                attempts += 1
                head = self.version()
                if commutes is None or attempts > 5 or not commutes(m, head):
                    raise
                m = v = head
