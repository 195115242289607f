"""Minor compaction for ManagedTable — file-scoped, O(changed) bytes.

The merge-on-read DML family (deletion-vector DELETE/UPDATE, blind
APPEND, partition overwrite) accretes two kinds of read tax as a table
ages: files whose rows are mostly DV-dead (every scan still opens them,
then anti-joins most rows away) and swarms of small ``_upd`` files
(every scan pays their per-file open cost; the appends chain itself
grows one entry per DML commit). Full ``optimize()`` clears both but
rewrites the WHOLE table — O(table) bytes, exactly what merge-on-read
exists to avoid. ``compact()`` is the measured middle: pick only the
files past a dead-row threshold (plus optional small-file coalescing),
rewrite THEIR survivors into one ``_upd`` dir, and publish a reference
commit whose universe excludes the victims via a ``dead`` file list —
O(victim bytes) IO, not one untouched byte rewritten. This is Delta's
"purge deletion vectors" / bin-packing minor compaction, and at 100 TB
it is the difference between a nightly maintenance job that touches
0.5 % of the table and one that copies all of it.

Correctness discipline matches OPTIMIZE: the rewritten slice is
digest-verified (order-free fingerprint of the victims' live rows ==
fingerprint of the rewrite) BEFORE the commit record is attempted, and
the commit's table digest is the parent's verbatim — compaction is
content-identical by construction, and the gate proves it per-call.

Reference parity note: the reference engine (sam-pitcher/strava-etl-
public) rewrites whole BigQuery tables on every sync (main.py's
read-modify-write of the activities table); this module is the
Spark-native replacement for that pattern at a scale where whole-table
rewrites stop being an option.
"""

from __future__ import annotations

import math
import os
import shutil

from pyspark.sql import functions as F

from .layout import dataset_fingerprint
from .table_log import _tombstone, resolve_entry


class _CompactMixin:
    """The minor-compaction face of :class:`~.table.ManagedTable` —
    mixed into the one public class; never instantiated alone."""

    def _reclaim_dead_files(
        self, retained: set[int], dry_run: bool = False
    ) -> int:
        """FILE-level vacuum of compaction debris (vacuum's
        ``reclaim_dead=True`` arm): delete every data file that ALL
        retained versions referencing its directory count dead — the
        victims a minor compaction excluded stay on disk only as long
        as some retained version still reads them. Deleted names merge
        into the directory's ``_vacuumed.json`` tombstone; every data
        open (``_open_data`` / the copy-commit read) checks the
        tombstone against its version's dead set and raises LOUDLY
        when it cannot account for a removed file — a version aged
        out of retention fails like a vacuumed version, never serves
        a silent partial read. Returns bytes reclaimed (or, with
        ``dry_run=True``, the bytes a real pass WOULD reclaim — no
        tombstone written, no file touched). Driver cost: O(retained
        versions) metadata reads + O(files) set algebra — no Spark
        job.

        Scope guard (Delta's vacuum rule): only directories under
        THIS table's root are ever touched. A shallow clone of a
        post-compaction version carries absolute refs into its
        SOURCE table; reclaiming through the clone must not delete
        source files based on the clone's retention view alone —
        the source's own versions may still read them."""
        root_abs = os.path.abspath(self.path) + os.sep
        needs: dict[str, set[str]] = {}  # dir → files some version reads
        for v in sorted(retained):
            try:
                data_dir, _, appends = self._resolve(v)
            except ValueError:
                continue  # already vacuumed at dir level
            dead = self._dead_abs(v)
            for d in (data_dir, *appends):
                d_abs = os.path.abspath(d)
                if not (d_abs + os.sep).startswith(root_abs):
                    continue  # foreign dir (clone source): never ours
                live = {
                    os.path.join(d_abs, f)
                    for f in os.listdir(d)
                    if f.startswith("part-") and f.endswith(".parquet")
                } - dead
                needs.setdefault(d_abs, set()).update(live)
        reclaimed = 0
        for d_abs, live in needs.items():
            all_files = {
                os.path.join(d_abs, f)
                for f in os.listdir(d_abs)
                if f.startswith("part-") and f.endswith(".parquet")
            }
            removable = all_files - live
            if not removable:
                continue
            if dry_run:
                reclaimed += sum(
                    os.path.getsize(f_abs) for f_abs in removable
                )
                continue
            # tombstone FIRST, then delete: a crash between the two
            # leaves files tombstoned-but-present — old-version reads
            # refuse conservatively (loud), the current version is
            # unaffected (removed ⊆ its dead set), and a re-run
            # finishes the deletes. The reverse order left a window
            # where a removed file had no tombstone and an old
            # version read SILENTLY partial.
            _tombstone(d_abs, {os.path.basename(f) for f in removable})
            for f_abs in sorted(removable):
                reclaimed += os.path.getsize(f_abs)
                os.remove(f_abs)
        return reclaimed

    def compact_stats(self) -> list[dict]:
        """Per-file compaction pressure of the CURRENT version:
        ``[{file, bytes, rows, dead_rows, dead_frac}]`` — the victim
        census :meth:`compact` selects from, exposed for monitoring.
        Driver cost is O(files) metadata (a parquet FOOTER read per
        DV-touched file, byte sizes for all) plus one O(DV) aggregate;
        no data rows move."""
        import pyarrow.parquet as pq

        v = self.version()
        data_dir, dv_dir, appends = self._resolve(v)
        dead = self._dead_abs(v)
        files = [
            os.path.join(d, f)
            for d in (data_dir, *appends)
            for f in sorted(os.listdir(d))
            if f.startswith("part-") and f.endswith(".parquet")
        ]
        files = [f for f in files if os.path.abspath(f) not in dead]
        dead_n: dict[str, int] = {}
        if dv_dir is not None:
            for r in (
                self._rebase_dv(
                    self.spark.read.parquet(dv_dir).select("_file", "_pos")
                )
                .groupBy("_file")
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            ):
                dead_n[r["_file"]] = r["n"]
        out = []
        for f in files:
            d = dead_n.get(os.path.abspath(f), 0)
            rows = pq.ParquetFile(f).metadata.num_rows if d else None
            out.append(
                {
                    "file": f,
                    "bytes": os.path.getsize(f),
                    "rows": rows,
                    "dead_rows": d,
                    "dead_frac": (d / rows) if rows else 0.0,
                }
            )
        return out

    def compact(
        self,
        dead_frac: float = 0.2,
        small_bytes: int = 0,
        target_bytes: int = 128 * 1024 * 1024,
    ) -> int | None:
        """Minor compaction: rewrite ONLY the files whose DV-dead row
        share is ≥ ``dead_frac`` (plus, when ``small_bytes`` > 0, any
        group of ≥2 files smaller than it — small-file coalescing of
        accreted ``_upd`` swarms), publishing a reference commit that
        excludes the victims through a ``dead`` file list and carries
        their surviving rows in a fresh ``_upd`` dir. Untouched files
        are not read, not rewritten, not even listed into the plan —
        cost is O(victim bytes) + O(files) driver metadata.

        Returns the new version, or None when nothing crosses the
        thresholds (an explicit no-op — no empty commit is published).

        Scale contract (the 100 TB argument):
        - victim census: parquet footer reads for DV-touched files
          only; the DV per-file histogram is one small aggregate.
        - rewrite: one Spark job over the victim files alone, with the
          version's DV anti-joined (broadcast when small); output
          sized to ``target_bytes``.
        - append-chain folding: an appends dir whose files are ALL
          dead-or-victim drops off the child's appends list, so the
          chain the DML family grows one-entry-per-commit is BOUNDED
          by compaction cadence instead of table age.
        - residual DV: the parent DV minus victim-file entries — those
          deletes are now physical. A table whose every delete has
          been compacted reads with an EMPTY anti-join.
        - history: immutable. The parent version still reads bit-for-
          bit (victims stay on disk until vacuum retires their
          version); ``dead`` entries are table-relative, so relocation
          keeps them valid (the DV convention).

        Concurrency: pessimistic, like OPTIMIZE — a competing commit
        in the window surfaces :class:`~.table_log.CommitConflict`
        (transact()'s retry loop re-runs the census, which is cheap).
        Interleaved BLIND APPENDS are absorbed (r11): an append
        touches no existing file and no DV, so the victim census,
        the rewritten slice, and its content-identity proof stay
        valid — the commit re-bases onto the append head and carries
        the new append dirs through. Maintenance on a hot ingest
        table no longer loses its whole rewrite to every
        micro-batch. Everything ELSE still conflicts: compaction
        rewrites files other ops' write sets name, Delta's rule for
        why OPTIMIZE conflicts with writers."""
        v, m = resolve_entry(self.path)
        data_dir, dv_dir, appends = self._resolve(v)
        if dv_dir is None:
            return None  # copy commit: no DV, no appends — nothing to fold
        dead = self._dead_abs(v)
        by_dir: dict[str, list[str]] = {
            d: [
                os.path.join(d, f)
                for f in sorted(os.listdir(d))
                if f.startswith("part-") and f.endswith(".parquet")
            ]
            for d in (data_dir, *appends)
        }
        live_files = [
            f
            for fs in by_dir.values()
            for f in fs
            if os.path.abspath(f) not in dead
        ]
        dead_counts: dict[str, int] = {
            r["_file"]: r["n"]
            for r in self._rebase_dv(
                self.spark.read.parquet(dv_dir).select("_file", "_pos")
            )
            .groupBy("_file")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        import pyarrow.parquet as pq

        victims: set[str] = set()
        for f in live_files:
            dn = dead_counts.get(os.path.abspath(f), 0)
            if dn and dn / pq.ParquetFile(f).metadata.num_rows >= dead_frac:
                victims.add(f)
        if small_bytes > 0:
            small = [
                f
                for f in live_files
                if f not in victims and os.path.getsize(f) < small_bytes
            ]
            if len(small) >= 2:
                victims.update(small)
        if not victims:
            return None
        # stamp the reader feature BEFORE the commit (a reader that
        # doesn't understand dead-file exclusion would resurrect the
        # victims) — stamping first means a crash can never leave a
        # dead-list version unguarded
        if "dead-files" not in self.required_features:
            self.required_features.append("dead-files")
            self._save_config()
        vlist = sorted(victims)
        vabs = {os.path.abspath(f) for f in victims}

        # survivors of the victim files, physical schema (metadata-
        # added columns backfilled — the _upd convention), DV applied
        base = self._open_data(v, *vlist)
        phys_cols = base.columns
        slice_live = (
            self._tagged(base)
            .join(self._dv_df(dv_dir), ["_file", "_pos"], "left_anti")
            .select(*phys_cols)
        )
        n_out = max(
            1,
            math.ceil(
                sum(os.path.getsize(f) for f in vlist) / target_bytes
            ),
        )
        scratch = os.path.join(self.path, "_compact_tmp")
        shutil.rmtree(scratch, ignore_errors=True)
        try:
            slice_live.repartition(n_out).write.mode("overwrite").parquet(
                scratch
            )
            before = dataset_fingerprint(slice_live).collect()
            after = dataset_fingerprint(
                self.spark.read.parquet(scratch)
            ).collect()
            if [r[1:] for r in before] != [r[1:] for r in after]:
                raise RuntimeError(
                    "compact digest mismatch — rewritten victim slice is "
                    "not content-identical; refusing to publish"
                )

            # residual DV source, appends chain and dead list derive
            # from the parent the commit chains on: the interleaved
            # BLIND APPENDS the publish loop absorbs (r11) touch no
            # existing file and no DV, so the victim census, the
            # rewritten slice and its content-identity proof stay valid
            vdf = F.broadcast(
                self.spark.createDataFrame(
                    [(p,) for p in sorted(vabs)], "_file string"
                )
            )

            def lay(vdir: str, p: int) -> None:
                data_dir_p, dv_dir_p, appends_p = self._resolve(p)
                # residual DV: head entries not addressing a victim
                # (victim deletes became physical). Stored back
                # relative. Anti-join, not isin — a victim list in
                # the thousands would otherwise inline as literals.
                self._relativize_dv(
                    self._rebase_dv(
                        self.spark.read.parquet(dv_dir_p).select(
                            "_file", "_pos"
                        )
                    ).join(vdf, "_file", "left_anti")
                ).write.mode("overwrite").parquet(os.path.join(vdir, "_dv"))
                # linked, not moved: the survivors must outlive a
                # conflicting attempt's wiped staging
                self._link_files(scratch, os.path.join(vdir, "_upd"))
                # fold fully-consumed appends dirs off the chain; keep
                # dead entries only for files in dirs still referenced
                new_dead_abs = set(self._dead_abs(p)) | vabs
                kept_appends: list[str] = []
                kept_dirs = {os.path.abspath(data_dir_p)}
                for a, d in zip(self._rebase_appends(p), appends_p):
                    if all(
                        os.path.abspath(os.path.join(d, f)) in new_dead_abs
                        for f in os.listdir(d)
                        if f.startswith("part-") and f.endswith(".parquet")
                    ):
                        continue  # every file dead → dir leaves
                    kept_appends.append(a)
                    kept_dirs.add(os.path.abspath(d))
                root = os.path.abspath(self.path) + os.sep
                dead_out = sorted(
                    (q[len(root):] if q.startswith(root) else q)
                    for q in new_dead_abs
                    if os.path.dirname(q) in kept_dirs
                )
                ref = self._base_ref(data_dir_p)
                ref["appends"] = kept_appends + ["self"]
                if dead_out:
                    ref["dead"] = dead_out
                self._write_dv_ref(vdir, ref)
                # inherited sidecars stay conservative-correct: victim
                # basenames are pruned from survivor lists driver-side
                # (scan/lookup consult the dead set), rewritten files
                # ride the always-read appends path until OPTIMIZE
                self._inherit_sidecars(self._vdir(p), vdir)

            def only_appends(m_: int, head: int) -> bool:
                # anything OTHER than an append still conflicts
                # (Delta's OPTIMIZE-conflicts-with-writers rule, kept
                # for every op that moves rows)
                walked = self._walk_range(head, m_)
                return bool(walked) and all(
                    rec.get("op") == "append" for rec in walked.values()
                )

            # the digest is the parent's: compaction is content-identical
            return self._publish(v, m, "compact", lay, commutes=only_appends)
        finally:
            shutil.rmtree(scratch, ignore_errors=True)
