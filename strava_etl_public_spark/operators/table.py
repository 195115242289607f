"""ManagedTable — the managed-table layer as ONE entry point.

Round 8 left every table-format primitive as a separately-proven
operator: MERGE INTO (upsert.merge_into), versioned snapshots with
time travel / rollback / vacuum (the commit protocol in
table_log.py), OPTIMIZE (layout.compact_parquet under the snapshot
contract), file-manifest zone maps (layout.write_with_stats /
read_with_skipping), schema evolution, and dynamic partition
overwrite. This module composes them into the single API a user of
a table format actually holds —
create → merge → optimize → scan → time-travel → rollback → vacuum through
one object, with the file-statistics manifest maintained across every
operation (Delta/Iceberg's contract in miniature, on plain parquet).

Reference semantics: the reference maintains its activity store as a
keyed upsert target plus full-table rewrites (main.py:199-203,
firestore_sink.py); this is that store's contract done as a versioned
table — every write is an immutable snapshot, every read is
reproducible as-of a version, and maintenance (OPTIMIZE/VACUUM) never
mutates published history.

Scale design (100 TB):
* every commit is an append of new files + ONE atomic pointer flip
  — readers never block writers, and a crash leaves the previous
  version current (table_log.snapshot_commit_ref's argument); every
  commit writes its data once (:meth:`ManagedTable._written_once`) and
  reference commits publish through one loop
  (:meth:`~.table_log.TableLog._publish`);
* MERGE is one NULL-safe full-outer shuffle on the key
  (upsert.merge_into) — broadcast when the change batch is small, AQE
  decides from runtime sizes;
* the per-version manifest is one map-side-combined aggregate grouped
  by input_file_name — driver state is O(files), never O(rows);
* OPTIMIZE verifies content-losslessness (order-free digest equality)
  BEFORE publishing the compacted version, so a buggy rewrite can
  never become the current table;
* scans consult the version's manifest first (conservative range
  intersection, exact residual filter) — a selective scan opens only
  the files whose [min,max] ranges survive.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import uuid
from typing import Callable, Sequence

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .layout import (
    compact_parquet,
    dataset_fingerprint,
    fingerprint_metrics,
    row_hash,
)
from .upsert import merge_into

from .table_compact import _CompactMixin
from .table_log import (
    _DIGEST,
    CommitConflict,
    TableLog,
    _check_expected_max,
    _remove_versions,
    _retained,
    create_config,
    dataset_dir,
    resolve_entry,
    save_config,
    snapshot_commit_ref,
    snapshot_max_commit,
    snapshot_read,
    snapshot_rollback,
    snapshot_version,
)
from .table_read import _TableReadMixin
from .table_schema import _SchemaMixin

def _observed(obs: Observation) -> dict:
    """The metrics a write observed (one seam, so a test can feed a
    wrong count and drive the footer cross-check)."""
    return obs.get


def _footer_rows(d: str) -> int:
    """Rows in the parquet files of ``d``, summed from their footers —
    metadata only, no data page is read."""
    import pyarrow.parquet as pq

    return sum(
        pq.read_metadata(os.path.join(d, f)).num_rows
        for f in os.listdir(d)
        if f.startswith("part-")
    )


class ManagedTable(_CompactMixin, _SchemaMixin, _TableReadMixin, TableLog):
    """A versioned, manifest-tracked parquet table with MERGE,
    OPTIMIZE, time travel, rollback, and vacuum — the composition of
    the operator layer's separately-proven table primitives behind one
    handle. Construct with :meth:`create` (new table) or the
    constructor (existing table path). The version log itself — config
    and feature gate, records, file universes, the reference-commit
    publish — is :class:`~.table_log.TableLog`."""

    def __init__(self, spark: SparkSession, path: str):
        super().__init__(path)
        self.spark = spark

    @staticmethod
    def _commit_ref(*args, **kwargs) -> int:
        """Every commit of this table puts its record through this
        module's ``snapshot_commit_ref``, resolved at call time — the
        one name commit tracing (perfbench/spans.py) and conflict
        tests hook."""
        return snapshot_commit_ref(*args, **kwargs)

    # -- lifecycle ---------------------------------------------------------

    @classmethod
    def create(
        cls,
        df: DataFrame,
        path: str,
        key: str | Sequence[str],
        stat_cols: Sequence[str] | None = None,
        bloom_col: str | None = None,
        manifest_format: str = "auto",
    ) -> "ManagedTable":
        """Create the table: write the config record (O_EXCL — a
        second concurrent create loses loudly, the commit-conflict
        discipline of snapshot_commit_ref applied to the table itself),
        then commit ``df`` as v1 and build its manifests.
        ``bloom_col`` adds the point-lookup skipping layer: per-file
        bloom manifests maintained on every copy commit (see
        :meth:`lookup`) — the layer for columns the layout is NOT
        clustered on, where zone maps prune nothing."""
        keys = [key] if isinstance(key, str) else list(key)
        create_config(
            path,
            {
                "key": keys,
                "stat_cols": list(stat_cols or []),
                "bloom_col": bloom_col,
                "manifest_format": manifest_format,
            },
        )
        t = cls(df.sparkSession, path)
        t._commit(df)
        return t

    def read(self, version: int | None = None) -> DataFrame:
        """The table AS OF ``version`` (time travel), or latest.
        Deletion-vector versions resolve to their base snapshot's
        files with the DV anti-joined out (merge-on-read): one scan
        plus a left-anti hash join against O(deleted-rows) DV rows —
        broadcast when the DV is small, the common case. The version's
        COLUMN MAP (rename/drop metadata, see :meth:`rename_column`)
        is applied last, so time travel serves each version under the
        schema it was published with."""
        v = snapshot_version(self.path) if version is None else version
        data_dir, dv_dir, appends = self._resolve(v)
        if dv_dir is None:
            # a copy commit can never account for reclaimed files (its
            # dead set is empty) — loud, like a vacuumed dir
            self._check_tombstones(v, [data_dir], set())
            out = snapshot_read(self.spark, self.path, v)
        else:
            base = self._open_data(v, data_dir, *appends)
            cols = base.columns
            out = (
                self._tagged(base)
                .join(self._dv_df(dv_dir), ["_file", "_pos"], "left_anti")
                .select(*cols)
            )
        return self._to_logical(out, self._version_map(v))

    def transact(self, op, max_retries: int = 5):
        """Optimistic-concurrency retry (Delta's commit-conflict loop):
        run ``op(table)`` — ONE logical operation built from this
        class's op surface (merge/delete/update/overwrite/optimize…).
        Every op captures the allocation high-water at ENTRY and the
        commit layer raises :class:`CommitConflict` if ANY competing
        record landed while the op derived its write set (not merely
        when two writers collide on the same slot — the latter alone
        left a lost-update window, code-review r9); the loser here
        RE-APPLIES the whole logical op against the new current
        version and retries.

        Semantic re-application is the rebase: each op re-reads
        ``version()`` at entry, so the retried op sees the winner's
        rows — the serial schedule "winner then loser", i.e. full
        serializability for logical ops (stronger than file-level
        rebase rules, affordable because ops re-derive their write set
        from the predicate instead of shipping fixed file lists).
        ``op`` must therefore be a pure function of the table state —
        no captured DataFrames read from a pinned version. Only
        CommitConflict retries; any other error (including unrelated
        FileExistsErrors like an existing clone destination) surfaces
        immediately. Returns ``op``'s result."""
        import random
        import time as _time

        last: CommitConflict | None = None
        for attempt in range(max_retries + 1):
            try:
                return op(self)
            except CommitConflict as e:
                last = e
                # jittered exponential backoff (r11 — the 8-writer
                # throughput smoke starved one op through 26 straight
                # losses: with no backoff, the writer with the
                # slowest re-derive re-enters the race exactly when
                # everyone else does and keeps losing; jitter breaks
                # the lockstep, the cap keeps worst-case latency
                # bounded)
                if attempt < max_retries:
                    _time.sleep(
                        min(2.0, 0.05 * (2 ** min(attempt, 5)))
                        * (0.5 + random.random())
                    )
                continue
        raise RuntimeError(
            f"transact: commit conflict persisted through "
            f"{max_retries + 1} attempts on {self.path}"
        ) from last

    def rollback(self, version: int) -> None:
        snapshot_rollback(self.path, version)

    def vacuum(
        self,
        keep_last: int = 2,
        older_than_ts: float | None = None,
        reclaim_dead: bool = False,
        dry_run: bool = False,
    ) -> list[int]:
        """Retention, deletion-vector aware: a DV version's sidecar
        points INTO its base snapshot's files, so every base version
        referenced by a surviving DV version is pinned — vacuuming it
        would turn a readable published version into a loud read
        error. (Shallow CLONES of this table live in other table
        directories and are NOT tracked here — vacuuming a clone
        source invalidates the clone, Delta's documented shallow-clone
        hazard; see :meth:`clone`.)

        ``older_than_ts`` adds Delta's ``RETAIN``-window semantics on
        top: versions committed AT or AFTER the cutoff (epoch seconds;
        commit records carry ``ts``) are protected regardless of how
        many newer versions exist — so ``vacuum(keep_last=1,
        older_than_ts=now-7*86400)`` is "retain 7 days", and
        timestamp time travel (:meth:`as_of`) keeps working across
        the whole retained window. A record without a ``ts`` (legacy)
        is conservatively protected.

        ``reclaim_dead=True`` adds FILE-level vacuum (Delta's vacuum
        proper) on top of the dir-level pass: compaction-dead files
        that EVERY retained version referencing their directory
        agrees are dead get physically deleted and recorded in the
        directory's ``_vacuumed.json`` tombstone — the bytes a minor
        compaction retired finally leave disk. A version OUTSIDE the
        retention window whose files this removes stops being
        readable — LOUDLY: every data open checks the tombstone
        against its own dead set and raises on any overlap it cannot
        account for, never a silent partial read (see
        :meth:`~.table_compact._CompactMixin._reclaim_dead_files`)."""
        # the survivor set is computed once, here, and handed whole to
        # the removal pass
        versions, survivors = _retained(self.path, keep_last)
        recs = {v: self._record(v) for v in versions}
        if older_than_ts is not None:
            survivors |= {
                v
                for v, rec in recs.items()
                if float(rec.get("ts", float("inf"))) >= older_than_ts
            }
        # basename → version, covering BOTH naming modes: the logical
        # v{n} name and the staged name the commit record references
        # (a never-renamed publish stores staged basenames in child
        # refs — r13 no-rename mode; the pre-r13 int(base[1:]) parse
        # crashed on those)
        name_to_v = {f"v{v}": v for v in versions}
        name_to_v.update(
            (rec["staged"], v) for v, rec in recs.items() if rec.get("staged")
        )
        pinned: set[int] = set()
        for v in survivors:
            m = self._dv_ref(dataset_dir(self.path, v)) or {}
            # a relative in-table base ("v3") and appends ("v5/_upd"
            # pins v5; "self" is the survivor itself)
            refs = [m["base"]] if m.get("base") else []
            refs += [
                a.split("/", 1)[0]
                for a in m.get("appends", [])
                if a != "self" and not os.path.isabs(a)
            ]
            pinned |= {name_to_v[r] for r in refs if r in name_to_v}
        removed = _remove_versions(
            self.path, versions, survivors | pinned, dry_run
        )
        self.last_reclaimed_bytes = 0
        if reclaim_dead:
            # dry_run threads through: the file-level arm previews
            # the bytes it WOULD reclaim (touching nothing) instead
            # of being silently skipped — a destructive step's audit
            # must mention every file the real run deletes. The byte
            # count (real or previewed) lands in
            # ``last_reclaimed_bytes`` next to the returned versions.
            self.last_reclaimed_bytes = self._reclaim_dead_files(
                {v for v in survivors if v not in set(removed)},
                dry_run=dry_run,
            )
        return removed

    # -- constraints ---------------------------------------------------------

    def add_constraint(self, name: str, expr_sql: str) -> None:
        """ADD CONSTRAINT (Delta's CHECK contract): ``expr_sql`` must
        hold for every row of every FUTURE commit — and, like Delta,
        the EXISTING data is validated first (an unenforceable
        constraint is refused, not recorded). SQL CHECK semantics: a
        row violates only when the expression is FALSE; NULL passes.
        Every later commit counts violations on its one data write
        (:meth:`_written_once`); only a violation costs a further job,
        which reads a few violating rows back from the written files to
        quote in the error, so the bad batch is debuggable."""
        self._check_rows(self.read(), {name: expr_sql})
        self.constraints[name] = expr_sql
        self._save_config()

    def drop_constraint(self, name: str) -> None:
        self.constraints.pop(name, None)
        self._save_config()

    def _save_config(self) -> None:
        save_config(self.path, self._config())

    def _config(self) -> dict:
        """The ``_table.json`` config this handle holds."""
        return {
            "key": self.key,
            "stat_cols": self.stat_cols,
            "constraints": self.constraints,
            "bloom_col": self.bloom_col,
            "bloom_m": self.bloom_m,
            "bloom_k": self.bloom_k,
            "manifest_format": self.manifest_format,
            "column_defaults": self.column_defaults,
            "required_features": self.required_features,
        }

    def _check_rows(self, df: DataFrame, constraints: dict[str, str]) -> None:
        for name, expr_sql in constraints.items():
            violating = df.filter(
                ~F.coalesce(F.expr(expr_sql), F.lit(True))
            )
            sample = violating.limit(3).collect()
            if sample:
                raise ValueError(
                    f"CHECK constraint {name!r} ({expr_sql}) violated; "
                    f"e.g. {[tuple(r) for r in sample]} — commit refused, "
                    "table unchanged"
                )

    @contextlib.contextmanager
    def _written_once(
        self,
        batch: DataFrame,
        to_phys: Callable[[DataFrame], DataFrame],
        vmap,
    ):
        """Write ``to_phys(batch)`` ONCE into a private ``_stage_`` dir
        and yield ``(dir, digest)``: the digest of ``batch``'s logical
        rows, observed on the write itself (``DataFrame.observe``), so
        the batch plan runs once per commit. Each commit attempt links
        the dir's files into its staging (:meth:`_link_files`), so a
        conflict retry rebases metadata only. The dir is removed on
        exit; a crash leaves it to the staging vacuum.

        CHECK constraints ride the same observation as violation
        counts: a violation raises here, before any commit record, so
        the table is unchanged; only then are sample rows read, from
        the written files. Observed metrics ride on accumulators, and a
        re-run stage can count a partition twice, so the observed count
        is checked against the written files' parquet footers (metadata
        only); on a mismatch the written files are fingerprinted
        instead — one scan of the output, never a second run of the
        batch plan."""
        out = os.path.join(self.path, f"_stage_{uuid.uuid4().hex[:12]}")
        try:
            checks = list(self.constraints.items())
            obs = Observation()
            observed = batch.observe(
                obs,
                *fingerprint_metrics(row_hash(batch.columns)),
                *[
                    F.count_if(~F.coalesce(F.expr(sql), F.lit(True))).alias(
                        f"_chk{i}"
                    )
                    for i, (_, sql) in enumerate(checks)
                ],
            )
            to_phys(observed).write.mode("overwrite").parquet(out)
            got = _observed(obs)

            def written() -> DataFrame:
                return self._to_logical(self.spark.read.parquet(out), vmap)

            bad = {n: s for i, (n, s) in enumerate(checks) if got[f"_chk{i}"]}
            if bad:
                self._check_rows(written(), bad)
                raise ValueError(
                    f"CHECK constraint(s) {sorted(bad)} violated — commit "
                    "refused, table unchanged"
                )
            if got["n_rows"] != _footer_rows(out):
                got = dataset_fingerprint(written()).collect()[0].asDict()
            yield out, {k: got[k] for k in _DIGEST}
        finally:
            shutil.rmtree(out, ignore_errors=True)

    # -- writes (each publishes a new immutable version) -------------------

    def merge(
        self,
        source: DataFrame,
        update_cols: Sequence[str] | None = None,
        delete_cond: Column | None = None,
        insert_unmatched: bool = True,
        evolve_schema: bool = False,
        not_matched_by_source_delete_cond: Column | None = None,
        not_matched_by_source_update: dict[str, Column] | None = None,
        not_matched_by_source_update_cond: Column | None = None,
    ) -> int:
        """MERGE ``source`` into the current version on the table key
        and commit the result as a new version. ``evolve_schema=True``
        adds source-only columns to the table (NULL for rows the
        source doesn't touch) — additive evolution, the only kind a
        100 TB table can afford (no rewrite of existing data beyond
        this commit's own copy). Returns the new version number."""
        _, m = resolve_entry(self.path)
        current = self.read()
        source = self._apply_write_defaults(source)
        if evolve_schema:
            have = set(current.columns)
            for f_ in source.schema.fields:
                if f_.name not in have:
                    current = current.withColumn(
                        f_.name, F.lit(None).cast(f_.dataType)
                    )
        vmap = self._current_map()
        merged = merge_into(
            current,
            source,
            [self._to_log_name(k, vmap) for k in self.key],
            update_cols=update_cols,
            delete_cond=delete_cond,
            insert_unmatched=insert_unmatched,
            not_matched_by_source_delete_cond=not_matched_by_source_delete_cond,
            not_matched_by_source_update=not_matched_by_source_update,
            not_matched_by_source_update_cond=not_matched_by_source_update_cond,
        )
        return self._commit(merged, extra={"op": "merge"}, expected_max=m)

    def delete(self, cond: Column) -> int:
        """DELETE WHERE ``cond`` — published as a DELETION-VECTOR
        version (merge-on-read): the new version's directory holds
        ONLY a parquet sidecar of (file, row-position) pairs for the
        deleted rows plus a pointer at the base snapshot; not one data
        file is rewritten. This is how a 100 TB table deletes 0.1% of
        its rows without a 100 TB write: cost is one predicate scan
        (manifest/row-group pruning applies) plus O(deleted) sidecar
        bytes, written entirely by executors — the driver never holds
        a row. Reads anti-join the DV back out (see :meth:`read`);
        OPTIMIZE materializes survivors and drops the DV (DV
        compaction — the standard pairing).

        Rows where ``cond`` is NULL survive, SQL DELETE semantics —
        enforced positionally (the DV records rows where the predicate
        was TRUE), not by negating the predicate. Chained deletes
        merge the parent DV into the new sidecar, so resolution is
        always ONE hop. Returns the new version number.

        Cost: exactly ONE pass over the live table (the predicate
        scan, which manifest/row-group pruning can cut) plus
        O(deleted) sidecar bytes. The commit digest is DERIVED, not
        rescanned — parent record minus the deleted rows' digest
        (count/xor/modular-sum are group operations, so subtraction is
        exact) — and the manifest is inherited from the parent version
        (conservative: a superset range still prunes correctly; the
        next OPTIMIZE tightens it — Delta's file-stats-under-DV
        behavior)."""
        v, m = resolve_entry(self.path)
        data_dir, dv_dir, appends = self._resolve(v)
        vmap = self._version_map(v)
        base = self._open_data(v, data_dir, *appends)
        cols = [l for l, _ in vmap] if vmap else base.columns
        hit_rows = self._live_tagged(base, dv_dir, vmap).filter(cond).persist()
        try:
            # the new digest derives from the parent commit record
            dd = (
                dataset_fingerprint(hit_rows.select(*cols))
                .collect()[0]
                .asDict()
            )
            wfiles = self._wfiles_of(hit_rows)
            hits = self._relativize_dv(hit_rows.select("_file", "_pos"))
            # interleaved dv_deletes on DISJOINT files (and blind
            # appends) commute — absorbed by DV union + digest
            # re-derivation instead of re-running the predicate scan
            return self._publish(
                v,
                m,
                "dv_delete",
                lambda vdir, p: self._lay_ref(vdir, p, hits=hits),
                minus=dd,
                commutes=lambda m_, head: self._interleaved_commute_dv(
                    m_, wfiles, head=head
                ),
                extra=None if wfiles is None else {"wfiles": wfiles},
            )
        finally:
            hit_rows.unpersist()

    def clone(self, dst_path: str) -> "ManagedTable":
        """Shallow clone: a NEW managed table whose v1 references this
        table's current data files through an empty deletion vector —
        zero data bytes copied, history independent from the first
        write. Delta's CLONE SHALLOW contract, with the same
        documented hazard: vacuuming the SOURCE table can remove files
        the clone still references (the clone's reads then raise
        loudly — never return partial data)."""
        v = self.version()
        data_dir, dv_dir, appends = self._resolve(v)
        create_config(dst_path, self._config())
        if dv_dir is not None:
            # the source's table-relative DV entries point into the
            # SOURCE's files — freeze them to absolute before
            # re-rooting them under the clone (where relative entries
            # would rebase against the clone's own directory)
            seed_dv = self._rebase_dv(
                self.spark.read.parquet(dv_dir).select("_file", "_pos")
            )
        else:
            seed_dv = self.spark.createDataFrame(
                [], "_file string, _pos long"
            )

        def populate(vdir: str) -> None:
            seed_dv.write.mode("overwrite").parquet(os.path.join(vdir, "_dv"))
            # appended-row dirs (merge-on-read UPDATEs in the source's
            # ancestry) are referenced ABSOLUTELY — zero-copy, same
            # vacuum hazard as the base reference
            ref = {"base_abs": data_dir}
            if appends:
                ref["appends"] = list(appends)
            # like the DV entries above: the source's table-relative
            # dead-file entries (minor compaction) must freeze to
            # absolute before re-rooting under the clone
            if self._dead_of(v):
                ref["dead"] = sorted(self._dead_abs(v))
            self._write_dv_ref(vdir, ref)
            self._inherit_sidecars(self._vdir(v), vdir)

        # digest inherited from the source's commit record — a clone's
        # logical content IS the source's, no rescan needed; the
        # source's column map carries over the same way
        parent = self._record(v)
        extra = {"parent": 0, "op": "clone"}
        if parent.get("columns"):
            extra["columns"] = parent["columns"]
        if parent.get("added"):
            extra["added"] = parent["added"]
        if parent.get("widened"):
            extra["widened"] = parent["widened"]
        snapshot_commit_ref(
            dst_path,
            populate,
            digest={k: parent[k] for k in _DIGEST},
            extra=extra,
        )
        return ManagedTable(self.spark, dst_path)


    def update(self, cond: Column, set_exprs: dict[str, Column]) -> int:
        """UPDATE WHERE ``cond`` SET col = expr — published MERGE-ON-
        READ (Delta's DV-based UPDATE): the matched rows' (file, pos)
        pairs join the deletion vector and their REWRITTEN images land
        in the version's own ``_upd`` parquet dir; not one existing
        data file is rewritten. The version's logical content is
        base ∪ appends − DV, so reads stay one scan + one anti-join.
        This is how a 100 TB table updates 0.1% of its rows without a
        100 TB write: one predicate scan + O(updated) bytes, all
        executor-side.

        ``set_exprs`` values are evaluated over the OLD row (SQL
        UPDATE semantics — ``{"v": F.col("v") * 2}`` doubles). Rows
        where ``cond`` is NULL are NOT updated (SQL UPDATE). CHECK
        constraints are probed on the REWRITTEN rows only — cost ∝
        batch, and an update cannot create a violation anywhere else.
        The commit digest is DERIVED: parent − old images + new images
        (count/xor/mod-sum are group ops), the new images' digest and
        the CHECK counts observed on their one write
        (:meth:`_written_once`). Chained deletes/updates
        inherit the append list, so resolution stays one hop; OPTIMIZE
        materializes survivors and folds the appends away. Returns the
        new version number."""
        v, m = resolve_entry(self.path)
        data_dir, dv_dir, appends = self._resolve(v)
        vmap = self._version_map(v)
        base = self._open_data(v, data_dir, *appends)
        cols = [l for l, _ in vmap] if vmap else base.columns
        unknown = [c for c in set_exprs if c not in cols]
        if unknown:
            raise ValueError(f"update sets unknown columns: {unknown}")
        # SQL UPDATE casts each SET expression to the column's existing
        # type (code-review r9: an uncast int literal into a double
        # column wrote _upd files whose physical type conflicted with
        # the base files — the commit PUBLISHED fine and every later
        # read of the current version threw; the cast makes that state
        # unrepresentable, matching Delta)
        set_exprs = {
            c: e.cast(
                base.schema[self._to_phys_name(c, vmap)].dataType
            )
            for c, e in set_exprs.items()
        }
        hit_rows = self._live_tagged(base, dv_dir, vmap).filter(cond).persist()
        try:
            new_rows = hit_rows.select(
                *[
                    set_exprs[c].alias(c) if c in set_exprs else F.col(c)
                    for c in cols
                ]
            )
            # the rewritten images' digest and CHECK counts are observed
            # on their one write; the old images' digest is derived from
            # the cached hits
            with self._written_once(
                new_rows, lambda d: self._upd_out(d, vmap, base), vmap
            ) as (upd, new_d):
                old_d = (
                    dataset_fingerprint(hit_rows.select(*cols))
                    .collect()[0]
                    .asDict()
                )
                wfiles = self._wfiles_of(hit_rows)
                hits = self._relativize_dv(hit_rows.select("_file", "_pos"))
                # an UPDATE absorbs interleaved dv_deletes on disjoint
                # files (and blind appends) the way a delete does; any
                # other interleave — including another update, whose
                # rewritten images this op's predicate never scanned —
                # conflicts (Delta's added-file rule)
                return self._publish(
                    v,
                    m,
                    "dv_update",
                    lambda vdir, p: self._lay_ref(vdir, p, hits=hits, upd=upd),
                    plus=new_d,
                    minus=old_d,
                    commutes=lambda m_, head: self._interleaved_commute_dv(
                        m_, wfiles, head=head
                    ),
                    extra=None if wfiles is None else {"wfiles": wfiles},
                )
        finally:
            hit_rows.unpersist()

    def _live_tagged(self, base: DataFrame, dv_dir, vmap) -> DataFrame:
        """The live rows of ``base`` (the version's DV anti-joined out)
        with their ``_file``/``_pos`` tags, under the LOGICAL names the
        DML predicates and SET expressions speak."""
        live = self._tagged(base)
        if dv_dir is not None:
            live = live.join(self._dv_df(dv_dir), ["_file", "_pos"], "left_anti")
        if vmap:
            live = live.select(
                *[F.col(p).alias(l) for l, p in vmap], "_file", "_pos"
            )
        return live

    @staticmethod
    def _upd_out(df: DataFrame, vmap, base: DataFrame) -> DataFrame:
        """Logical rows → the full PHYSICAL schema of ``base``'s files,
        the shape an ``_upd`` dir needs: its files join the base files'
        universe, so mapped columns inverse-rename and dropped physical
        columns NULL-backfill (dead values — no live map can surface
        them, and time travel to pre-drop versions never includes
        post-drop appends)."""
        if not vmap:
            return df
        log_of = {p: l for l, p in vmap}
        return df.select(
            *[
                F.col(log_of[pc]).alias(pc)
                if pc in log_of
                else F.lit(None).cast(base.schema[pc].dataType).alias(pc)
                for pc in base.columns
            ]
        )

    # -- conflict classification (Delta's logical-conflict rules) -----------


    def _interleaved_commute_dv(
        self,
        expected_max: int,
        my_files: list[str] | None,
        allow_appends: bool = True,
        head: int | None = None,
    ) -> bool:
        """True iff every commit that landed after ``expected_max``
        commutes with this DV op, so it can absorb the interleave by
        pure DV union instead of re-running the predicate scan:

        * a PUBLISHED dv_delete whose write-set files are disjoint
          from this op's — the winner removed rows in files this op
          never touched, so its hit positions, digest arithmetic, and
          file universe are all still valid;
        * (``allow_appends``) a BLIND APPEND — appends touch no
          existing file, so the absorb equals the serial schedule
          "this op first, then the append": rows appended
          concurrently that happen to match a DELETE/UPDATE predicate
          survive, exactly Delta's WriteSerializable default (r11 —
          the 8-writer throughput smoke showed mixed append+delete
          workloads paying a full re-derive per append interleave).
          Partition OVERWRITE passes False: an append into a
          partition being replaced would survive the replacement,
          which breaks overwrite's "exactly the named partitions"
          contract (Delta conflicts there too).

        Updates do NOT commute even on disjoint files: their
        rewritten images are NEW rows this op's predicate never
        scanned (Delta's added-file conflict rule).

        ``head`` pins the chain head the classification covers — the
        caller MUST rebase onto exactly this version and pass it as
        the retry's expected_max, so a commit landing after the walk
        (or one whose record exists while its pointer flip is still
        pending) re-raises CommitConflict instead of being silently
        dropped from the chain (advice r11: the lost-update race)."""
        if my_files is None:
            return False
        walked = self._walk_range(
            self.version() if head is None else head, expected_max
        )
        if walked is None or not walked:
            return False
        mine = set(my_files)
        for rec in walked.values():
            op = rec.get("op")
            if op == "append" and allow_appends:
                continue
            wf = rec.get("wfiles")
            if op != "dv_delete" or wf is None or set(wf) & mine:
                return False
        return True

    def _wfiles_of(self, hit_rows: DataFrame) -> list[str] | None:
        """The op's write set as table-relative file names — bounded
        driver state for the conflict classifier. None (= conflicts
        with everything, the conservative default) when the op touched
        more files than the cap: a wide op should conflict, not ship
        an unbounded list through every later classification."""
        rows = hit_rows.select("_file").distinct().limit(257).collect()
        if len(rows) > 256:
            return None
        prefix = os.path.abspath(self.path) + os.sep
        return sorted(
            f[len(prefix):] if f.startswith(prefix) else f
            for f in (r["_file"] for r in rows)
        )

    def append(
        self,
        df: DataFrame,
        txn: int | None = None,
        txn_id: str | None = None,
    ) -> int:
        """Blind APPEND, published as a reference commit: the new
        version is parent ∪ batch — the batch lands in the version's
        own ``_upd`` dir, the parent's DV and appends carry through,
        and not one existing byte is rewritten (cost O(batch); this is
        how a 100 TB table ingests a 1 GB batch). The batch plan runs
        ONCE: its digest and the CHECK constraint counts are observed
        on the parquet write itself (:meth:`_written_once`, with a
        footer cross-check against double counting), and the parent's
        DV is carried as a file copy, with no Spark job. The commit
        digest is DERIVED (parent record + the observed batch digest —
        group-op addition), so it describes exactly the rows the
        commit wrote, even for a batch with a non-deterministic column
        such as ``current_timestamp()``.

        Appends COMMUTE with any interleaved PUBLISHED commit that
        keeps the column map (another append, a DV delete/update, a
        merge, an OPTIMIZE): the batch's rows are new, so a conflict
        only changes which version the append chains from. The rebase
        re-links the once-written files, re-reads the head's reference
        and re-derives the digest — no retry of user logic, no second
        batch write. A column-map
        change in the interleave still conflicts (the batch was shaped
        against the old logical schema). Returns the new version.

        ``txn``/``txn_id`` stamp the commit with a streaming batch
        marker ATOMICALLY (it rides in the same record write — the
        Delta txn/appId idempotence contract, exactly like
        ``_commit``'s): the JVM-native streaming sink
        (streaming.ingest.table_append_sink_jvm, r13) is a replay
        guard plus this call."""
        v, m = resolve_entry(self.path)
        vmap = self._version_map(v)
        # the live schema through _open_data over the FULL universe:
        # after a reclaim_dead vacuum the base dir alone can be empty —
        # the live schema then lives in the _upd dirs
        rdir, _, rapp = self._resolve(v)
        eff = self._to_logical(self._open_data(v, rdir, *rapp), vmap).schema
        logical_cols = eff.names
        batch = self._apply_write_defaults(df).select(*logical_cols)
        # conform the batch to the table's EFFECTIVE types (SQL INSERT
        # casts to the column type — update()'s r9 rule): without
        # this, a wider-typed batch (long into an int column) lands
        # _upd files whose physical type conflicts with the base
        # files, the commit PUBLISHES fine, and every later read
        # throws — caught by the model fuzz's widen arm. The effective
        # schema is widened-aware, so this also lands batches WIDE
        # after a widen_column (digest renders like later reads);
        # ANSI mode makes a truly-overflowing cast fail loudly.
        for c in logical_cols:
            if batch.schema[c].dataType != eff[c].dataType:
                batch = batch.withColumn(c, F.col(c).cast(eff[c].dataType))
        widened = self._version_widened(v)
        extra: dict = {"wfiles": []}
        if txn is not None:
            extra["txn"] = int(txn)
            if txn_id is not None:
                extra["txn_id"] = str(txn_id)

        def commutes(m_: int, head: int) -> bool:
            # any published interleave commutes, unless it changed the
            # column map or the widened types the batch was shaped for
            return (
                self._walk_range(head, m_) is not None
                and (self._version_map(head) or None) == (vmap or None)
                and (self._version_widened(head) or None) == (widened or None)
            )

        with self._written_once(
            batch, lambda d: self._to_physical(d, vmap), vmap
        ) as (upd, bd):
            return self._publish(
                v,
                m,
                "append",
                lambda vdir, p: self._lay_ref(vdir, p, upd=upd),
                plus=bd,
                commutes=commutes,
                extra=extra,
            )

    def restore(self, version: int) -> int:
        """RESTORE VERSION AS OF — publish a NEW version whose logical
        content is ``version``'s, as a FORWARD commit on the chain
        (Delta's RESTORE): zero data bytes copied (the new version
        references the old one's files through the DV layer), history
        stays linear and append-only, and — unlike :meth:`rollback`,
        which moves the pointer back and thereby re-opens streaming
        replay of the rolled-past batches — the lineage keeps every
        commit between ``version`` and now, so txn markers persist and
        a streaming sink does NOT re-apply batches a restore undid
        (Delta's documented RESTORE/appId interaction). Use rollback to
        retract bad BATCHES, restore to retract bad DATA. Returns the
        new version number."""
        cur, m = resolve_entry(self.path)
        self._resolve(version)  # a missing or vacuumed version raises
        # content AND schema: the restored version's digest and column
        # map come back with its rows
        return self._publish(
            cur,
            m,
            "restore",
            lambda vdir, _: self._lay_ref(vdir, version),
            extra={"restored_from": version},
            src=version,
        )

    def overwrite_partitions(self, df: DataFrame, part_col: str) -> int:
        """Dynamic partition overwrite as MERGE-ON-READ: DV-delete
        every live row of the ``part_col`` partitions present in
        ``df`` and land the replacement rows in the version's own
        ``_upd`` dir — ONE commit, not one existing file rewritten.
        The original implementation committed kept ∪ new as a full
        copy: an O(table) write to replace 1% of partitions — the
        exact write amplification the DV machinery exists to avoid
        (measured alongside DELETE/UPDATE in SCALE.md; at 100 TB this
        is a full-table write vs O(changed partitions)). Semantics
        unchanged: replace exactly the named partitions, pass every
        other row through (NULL partitions never match — SQL equality
        — so NULL-part rows pass through and NULL-part batch rows
        append, as before). The digest is DERIVED: parent −
        overwritten rows + batch (group ops), the batch's digest and
        CHECK counts observed on its one write (:meth:`_written_once`).
        CHECK constraints probe the batch only — removing rows cannot
        create a violation.
        Conflicts: absorbs interleaved dv_deletes on DISJOINT files
        (hit positions stay valid — UPDATE's rule); everything else
        conflicts and transact() rebases semantically. OPTIMIZE later
        materializes survivors and folds the append away."""
        v, m = resolve_entry(self.path)
        data_dir, dv_dir, appends = self._resolve(v)
        vmap = self._version_map(v)
        base = self._open_data(v, data_dir, *appends)
        cols = [l for l, _ in vmap] if vmap else base.columns
        batch = self._apply_write_defaults(df).select(*cols)
        # conform to the table's effective types (append's rule — a
        # mismatched batch type would land _upd files that break
        # every later read; effective schema is widened-aware)
        for c in cols:
            want = base.schema[self._to_phys_name(c, vmap)].dataType
            if batch.schema[c].dataType != want:
                batch = batch.withColumn(c, F.col(c).cast(want))
        with self._written_once(
            batch, lambda d: self._upd_out(d, vmap, base), vmap
        ) as (upd, bd):
            # the replaced partitions, read back from the written files
            # (one column) — not a second run of the batch plan
            parts = (
                self.spark.read.parquet(upd)
                .select(F.col(self._to_phys_name(part_col, vmap)).alias(part_col))
                .distinct()
            )
            hit_rows = (
                self._live_tagged(base, dv_dir, vmap)
                .join(F.broadcast(parts), part_col, "semi")
                .persist()
            )
            try:
                old_d = (
                    dataset_fingerprint(hit_rows.select(*cols))
                    .collect()[0]
                    .asDict()
                )
                wfiles = self._wfiles_of(hit_rows)
                hits = self._relativize_dv(hit_rows.select("_file", "_pos"))
                # allow_appends=False: an append into a partition being
                # replaced must CONFLICT (it would survive the
                # replacement) — Delta's overwrite rule
                return self._publish(
                    v,
                    m,
                    "dv_overwrite",
                    lambda vdir, p: self._lay_ref(vdir, p, hits=hits, upd=upd),
                    plus=bd,
                    minus=old_d,
                    commutes=lambda m_, head: self._interleaved_commute_dv(
                        m_, wfiles, allow_appends=False, head=head
                    ),
                    extra=None if wfiles is None else {"wfiles": wfiles},
                )
            finally:
                hit_rows.unpersist()

    def optimize(
        self,
        target_bytes: int = 128 * 1024 * 1024,
        cluster_by: Sequence[str] | None = None,
        zorder: bool = False,
    ) -> int:
        """OPTIMIZE: compact the current version's files toward
        ``target_bytes`` and publish the rewrite as a new version —
        after PROVING content-losslessness (order-free digest equality
        against the current version). History is immutable: the
        pre-optimize version stays readable via time travel.

        ``cluster_by``: range-partition + sort the rewrite on the
        given columns, so each output file covers a disjoint value
        range and the per-version manifest's [min,max] stats actually
        prune — compaction without clustering leaves every file
        spanning the whole domain and the skipping layer prunes
        nothing. Lexicographic range clustering prunes PERFECTLY on
        the first column and barely on the rest.

        ``zorder=True`` (Delta's OPTIMIZE ZORDER BY proper, ≥2
        numeric ``cluster_by`` columns): each column is min/max-scaled
        into a 2^bits grid and the grid coordinates bit-INTERLEAVED
        into one Morton key (layout.z_value); range-partitioning on
        the key gives every clustered column locality, so the manifest
        prunes on ANY of them — at 100 TB the difference between a
        two-predicate query opening 1/100 of the files and opening all
        of them. The scaling stats are one cheap agg over the logical
        rows; the key is pure JVM bit math and is dropped before
        write."""
        import math
        import shutil

        if zorder and (not cluster_by or len(cluster_by) < 2):
            raise ValueError(
                "zorder needs >= 2 cluster_by columns — for one column "
                "plain range clustering is strictly better"
            )
        v, m = resolve_entry(self.path)
        data_dir, dv_dir, appends = self._resolve(v)
        vmap = self._version_map(v)
        logical = self.read()
        scratch = os.path.join(self.path, "_optimize_tmp")
        shutil.rmtree(scratch, ignore_errors=True)
        try:
            if (
                cluster_by is None
                and dv_dir is None
                and not self._version_added(v)
                and not self._version_widened(v)
            ):
                # physical-file compaction — valid only when the files
                # ARE the logical content (no DV, no appends, no
                # metadata-added columns to materialize)
                compact_parquet(
                    self.spark, data_dir, scratch, target_bytes=target_bytes
                )
            else:
                # sized from the base + appended files (an upper bound
                # when a DV masks rows — OPTIMIZE after DELETE/UPDATE
                # is DV compaction: the rewrite materializes survivors
                # and drops the sidecar + append dirs)
                total = sum(
                    os.path.getsize(os.path.join(d, f))
                    for d in [data_dir, *appends]
                    for f in os.listdir(d)
                    if f.startswith("part-")
                )
                n = max(1, math.ceil(total / target_bytes))
                if zorder:
                    from .layout import z_value

                    bits = min(16, 63 // len(cluster_by))
                    mask = (1 << bits) - 1
                    aggs = []
                    for c in cluster_by:
                        aggs += [
                            F.min(F.col(c).cast("double")).alias(f"_mn_{c}"),
                            F.max(F.col(c).cast("double")).alias(f"_mx_{c}"),
                        ]
                    st = logical.agg(*aggs).collect()[0].asDict()
                    grid = []
                    for c in cluster_by:
                        mn, mx = st[f"_mn_{c}"], st[f"_mx_{c}"]
                        if mn is None or mx is None:
                            raise ValueError(
                                f"zorder column {c!r} is all-NULL or "
                                "non-numeric — cannot scale"
                            )
                        span = (mx - mn) or 1.0
                        # NULLs sort to cell 0 (a fixed cell, still
                        # clustered); min/max-scale into [0, mask]
                        grid.append(
                            F.least(
                                F.greatest(
                                    F.floor(
                                        (
                                            F.coalesce(
                                                F.col(c).cast("double"),
                                                F.lit(mn),
                                            )
                                            - F.lit(mn)
                                        )
                                        / F.lit(span)
                                        * F.lit(float(mask))
                                    ).cast("long"),
                                    F.lit(0),
                                ),
                                F.lit(mask),
                            )
                        )
                    shaped = (
                        logical.withColumn("_z", z_value(grid, bits))
                        .repartitionByRange(n, "_z")
                        .sortWithinPartitions("_z")
                        .drop("_z")
                    )
                elif cluster_by is not None:
                    shaped = logical.repartitionByRange(
                        n, *cluster_by
                    ).sortWithinPartitions(*cluster_by)
                else:
                    shaped = logical.repartition(n)
                # the scratch is the next version's PHYSICAL file set:
                # under a column map, inverse-rename (a narrow select —
                # partitioning and in-partition order survive); this
                # also PURGES dropped columns from the rewrite, the
                # REORG PURGE pairing
                self._to_physical(shaped, vmap).write.mode(
                    "overwrite"
                ).parquet(scratch)
            before = dataset_fingerprint(logical).collect()
            after = dataset_fingerprint(
                self.spark.read.parquet(scratch)
            ).collect()
            if [r[1:] for r in before] != [r[1:] for r in after]:
                raise RuntimeError(
                    "optimize digest mismatch — compacted rewrite is not "
                    "content-identical; refusing to publish"
                )
            # publish the VERIFIED scratch files by RENAME — never by
            # re-writing them through a second Spark job: the re-read's
            # size-ordered split packing SCRAMBLES the clustered layout
            # across output files (measured: post-rewrite manifests
            # spanned the full domain on every file, zero pruning), and
            # a 100 TB OPTIMIZE must not copy the data twice. The
            # digest is already proven equal; constraints cannot be
            # violated by a content-identical rewrite. Sidecars are
            # built ON THE SCRATCH (basename-keyed, so the publish
            # rename keeps them valid) and move with the data — a crash
            # after the pointer flip can no longer strand a published
            # version without its manifests (ADVICE r10).
            self._build_sidecars(scratch)

            def populate(vdir: str) -> None:
                for fn in os.listdir(scratch):
                    shutil.move(
                        os.path.join(scratch, fn), os.path.join(vdir, fn)
                    )

            extra = {"parent": v, "op": "optimize"}
            if vmap:
                extra["columns"] = vmap
            return snapshot_commit_ref(
                self.path,
                populate,
                digest=after[0].asDict(),
                extra=extra,
                expected_max=m,
            )
        finally:
            shutil.rmtree(scratch, ignore_errors=True)


    # -- internals ---------------------------------------------------------

    def _commit(
        self,
        df: DataFrame,
        extra: dict | None = None,
        expected_max: int | None = None,
    ) -> int:
        """Copy commit — create, merge, the streaming merge sink and
        ``cdf_consume``: ``df`` IS the new version's content. It is
        written once (:meth:`_written_once`, which observes its digest
        and CHECK counts on that write) and the written files become
        the version's own; the zone-map and bloom sidecars are built
        from them inside the commit's staging dir — basename-keyed,
        they survive the publish rename, and a crash can never strand
        a published version without its manifests (ADVICE r10).
        ``extra`` lands INSIDE the commit record (atomic with it) — the
        streaming sink's txn marker. A conflict always surfaces
        (transact() re-applies the op)."""
        # OCC stale-inputs guard: callers that derive their write set
        # from the table state capture the allocation high-water at
        # THEIR entry and pass it; a direct _commit (streaming sink,
        # tests) captures here, which still covers the whole write
        if expected_max is None:
            _, expected_max = resolve_entry(self.path)
        # every record carries its PARENT (the version current at
        # commit time), so lineage — not version arithmetic — defines
        # the published chain; after a rollback the abandoned branch's
        # records are unreachable from the new chain (code-review r9:
        # last_txn over "all records <= pointer" resurrected stale txn
        # markers from rolled-back branches and lost replayed batches)
        extra = {**(extra or {}), "parent": self.version()}
        # under a column map, copy commits keep writing PHYSICAL names
        # (fixed at creation, so per-version manifests and the
        # stat/bloom config never chase renames); schema-evolution
        # columns extend the map, with a suffix if the logical name
        # collides with a retired physical name
        vmap = self._current_map()
        if vmap:
            vmap = [list(e) for e in vmap]
            used_phys = {p for _, p in vmap}
            for c in df.columns:
                if c not in {l for l, _ in vmap}:
                    phys = c if c not in used_phys else f"{c}_p{extra['parent']}"
                    vmap.append([c, phys])
                    used_phys.add(phys)
            # map order: the order reads serve, so the observed digest
            # hashes each row as read() renders it
            df = df.select(*[l for l, _ in vmap])
            extra["columns"] = vmap
        if self.stat_cols:
            # same JSON-round-trip guard as layout.write_with_stats:
            # date/timestamp/decimal stats silently stringify and only
            # fail later at scan time — reject them at commit instead
            from pyspark.sql.types import (
                BooleanType,
                DecimalType,
                NumericType,
                StringType,
            )

            phys_schema = self._to_physical(df, vmap).schema
            for c in self.stat_cols:
                dt = phys_schema[c].dataType
                if not (
                    isinstance(dt, (NumericType, StringType, BooleanType))
                    and not isinstance(dt, DecimalType)
                ):
                    raise ValueError(
                        f"stat column {c!r} has type {dt.simpleString()} — "
                        "only int/float/string/boolean stats round-trip "
                        "through the JSON manifest"
                    )
        # cheap early stale-inputs check — fail before the expensive write
        _check_expected_max([snapshot_max_commit(self.path)], expected_max)
        with self._written_once(
            df, lambda d: self._to_physical(d, vmap), vmap
        ) as (out, digest):

            def populate(vdir: str) -> None:
                self._link_files(out, vdir)
                self._build_sidecars(vdir)

            return snapshot_commit_ref(
                self.path,
                populate,
                digest=digest,
                extra=extra,
                expected_max=expected_max,
            )
