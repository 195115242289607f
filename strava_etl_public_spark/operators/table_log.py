"""TableLog — the spark-free half of ManagedTable: the one reader and
the one publisher of a table's version log.

Everything here reads or writes version METADATA through plain files
and needs no SparkSession: the ``_table.json`` config and its
reader-feature gate, commit records, the per-version file universe
(``_dv.json`` base / appends / dead, resolved through
``layout.dataset_dir``), the parent-pointer walks, the txn
high-water, the ``_vacuumed.json`` tombstone guard, and the one
reference-commit publish loop (:meth:`TableLog._publish`) with its
layout (:meth:`TableLog._lay_ref`).

``ManagedTable`` is ``TableLog`` plus a session and the Spark faces
(``class ManagedTable(..., _TableReadMixin, TableLog)``). The pyarrow
DataSources (``sources/table_batch.py``, ``table_cdf.py``,
``table_sink.py``) hold a bare ``TableLog(path)``, so every reader of
the log — engine or pyarrow — passes the same feature gate, raises the
same named errors on vacuumed dirs, and every reference commit
(including the Arrow sink's) publishes through the same retry loop.
The table's file format is spelled in the table modules only.
"""

from __future__ import annotations

import json
import os
from typing import Callable, Sequence

from .layout import (
    CommitConflict,
    dataset_dir,
    resolve_rel,
    snapshot_commit_ref,
    snapshot_version,
)

#: reader features THIS build understands; tables list the subset
#: their history actually uses (stamped on first use). An unknown
#: listed feature makes the constructor refuse loudly — the Delta
#: protocol-versioning contract, because both features change what
#: EXISTING bytes mean (a dead-file-unaware reader resurrects
#: compaction victims; a widen-unaware reader serves narrow types).
SUPPORTED_FEATURES = {"dead-files", "type-widening"}

_MOD = 1152921504606846976  # 2^60: the digest's modular-sum base
_DIGEST = ("n_rows", "xor_hash", "sum_hash_mod")


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


class TableLog:
    """A managed table's version log at ``path`` — config, records,
    file universes and the reference-commit publish, without Spark."""

    def __init__(self, path: str):
        self.path = path
        cfg = os.path.join(path, "_table.json")
        if not os.path.isfile(cfg):
            raise ValueError(f"no managed table at {path} (missing _table.json)")
        with open(cfg) as f:
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
        p = os.path.join(self.path, "_commits", f"{v}.json")
        if not os.path.isfile(p):
            return {}
        with open(p) as f:
            return json.load(f)

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
        for a copy commit or an unresolved version)."""
        meta = os.path.join(vdir, "_dv.json") if vdir else ""
        if not meta or not os.path.isfile(meta):
            return None
        with open(meta) as f:
            return json.load(f)

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
            tp = os.path.join(p, "_vacuumed.json")
            if not os.path.isfile(tp):
                continue
            with open(tp) as f:
                tomb = json.load(f).get("files", [])
            removed = {os.path.abspath(os.path.join(p, b)) for b in tomb}
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
        type overrides. The schema the pyarrow DataSources declare."""
        from pyspark.sql.pandas.types import from_arrow_type
        import pyarrow.parquet as pq

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
        file_schema = pq.ParquetFile(sample).schema_arrow
        added = rec.get("added") or {}
        phys_types = {
            name: from_arrow_type(file_schema.field(name).type).simpleString()
            for name in file_schema.names
        }
        for ph, t in added.items():
            phys_types.setdefault(ph, t)
        # type-widened columns serve the WIDE type regardless of the
        # sampled file's physical type (readers upcast per batch)
        phys_types.update(rec.get("widened") or {})
        vmap = rec.get("columns")
        if vmap:
            return tuple(
                (l, p, phys_types.get(p, added.get(p, "string")))
                for l, p in vmap
            )
        return tuple((c, c, phys_types[c]) for c in file_schema.names)

    # -- the published chain ------------------------------------------------

    def _walk_range(self, frm: int, to_excl: int) -> dict[int, dict] | None:
        """Records on the published parent chain from ``frm`` down to
        (exclusive) ``to_excl`` — or None when the chain can't be
        proven to cover exactly the allocated records in that range:
        a record in the range that is NOT on the chain is either an
        in-flight winner (its pointer flip hasn't landed yet) or an
        orphan, and neither can be classified safely."""
        out: dict[int, dict] = {}
        cur = frm
        while cur > to_excl:
            rec = self._record(cur)
            if not rec:
                return None
            out[cur] = rec
            nxt = int(rec.get("parent", cur - 1))
            if nxt >= cur:
                return None
            cur = nxt
        if cur != to_excl or set(out) != set(range(to_excl + 1, frm + 1)):
            return None
        return out

    def _lineage(self):
        """Yield (version, record) walking PARENT POINTERS back from
        the current version — the published chain, which excludes
        orphaned commits and rolled-back branches. One definition of
        the walk's safety rules (stop on a missing record, stop on a
        non-decreasing parent pointer) shared by the streaming txn
        cursor and timestamp time travel.

        Scale: when the walk reaches a version with a lineage
        CHECKPOINT (`_ckpts/_ckpt_{v}.json`, or `.parquet` above
        layout.LINEAGE_CKPT_PQ_THRESHOLD entries; written every
        layout.SNAPSHOT_CKPT_EVERY commits), the checkpoint's folded
        chain is yielded instead of reading per-version records — the
        walk is O(cadence) record reads + one checkpoint read, not
        O(versions), Delta's log-checkpoint analogue. A checkpoint's
        chain IS version v's unique parent chain, so splicing it at
        any point of the walk is exact. Checkpoint entries carry the
        minimal {v, ts, txn?} fields the walk's consumers (as_of,
        legacy last_txn) read."""
        from .layout import _read_lineage_ckpt

        kdir = os.path.join(self.path, "_ckpts")
        cur = self.version()
        first = True
        while cur >= 1:
            if not first:
                spliced = _read_lineage_ckpt(kdir, cur)
                if spliced is not None:
                    for e in spliced:
                        yield int(e["v"]), e
                    return
            first = False
            rec = self._record(cur)
            if not rec:
                return
            yield cur, rec
            nxt = int(rec.get("parent", cur - 1))
            if nxt >= cur:
                return  # malformed parent pointer — never loop
            cur = nxt

    def last_txn(self, txn_id: str | None = None) -> int:
        """High-water txn marker over the published LINEAGE — the
        streaming sink's exactly-once cursor, Delta's txn/appId
        contract. O(1): every commit record carries ``txn_hw`` —
        max(parent's high-water, own marker), folded forward at commit
        time (layout._stamp_txn_hw) — so reading the CURRENT record
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
        v = self.version()
        rec = self._record(v) if v >= 1 else {}
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
        with open(os.path.join(vdir, "_dv.json"), "w") as f:
            json.dump(ref, f)
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
