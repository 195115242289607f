"""The read face of ManagedTable — split out of table.py.

This module holds the Spark face that never writes data: the
file-position/DV addressing helpers, the column map's DataFrame
renames, time travel resolution, the change feed (``changes`` /
``changes_signed``), manifest- and bloom-pruned reads (``scan`` /
``lookup``), and the sidecar builders they consult. The spark-free
metadata underneath — records, file universes, lineage and txn walks —
is :class:`~.table_log.TableLog`; table.py keeps the DML face and
``class ManagedTable(..., _TableReadMixin, TableLog)`` composes them.
All scale arguments live with the methods they describe.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .layout import read_with_skipping
from .table_log import footer_types, snapshot_history


class _TableReadMixin:
    """Read/metadata methods of :class:`~.table.ManagedTable` — mixed
    into the one public class; never instantiated alone. Expects the
    host to provide ``spark``, the :class:`~.table_log.TableLog`
    metadata face and the DML face's ``read()``."""


    # -- file-position addressing (deletion vectors) --------------------------

    @staticmethod
    def _norm_file(col: Column) -> Column:
        """Scheme-normalized file path: Spark renders
        ``_metadata.file_path`` as ``file:///…`` (or ``file:/…``) on a
        local filesystem — strip the scheme to a plain absolute path so
        DV entries and tagged rows compare equal regardless of
        rendering. Non-``file`` schemes pass through untouched (both
        join sides apply the same normalization)."""
        return F.regexp_replace(col, "^file:/+", "/")

    def _tagged(self, df: DataFrame) -> DataFrame:
        """``df`` plus the (``_file``, ``_pos``) row address every DV
        operation joins on — ONE definition of the tag, so the
        normalization can never diverge between writers and readers."""
        return df.withColumn(
            "_file", self._norm_file(F.col("_metadata.file_path"))
        ).withColumn("_pos", F.col("_metadata.row_index"))

    def _relativize_dv(self, dv: DataFrame) -> DataFrame:
        """DV entries are stored TABLE-RELATIVE when the file lives
        under this table's root (Delta's convention — a relocated
        table's DVs keep deleting; absolute entries silently matched
        nothing after a move and resurrected deleted rows, ADVICE r10).
        Files outside the root (shallow-clone sources) stay absolute —
        they share the source's vacuum hazard, which _resolve already
        reports loudly."""
        prefix = os.path.abspath(self.path) + os.sep
        return dv.withColumn(
            "_file",
            F.when(
                F.col("_file").startswith(prefix),
                F.expr(f"substring(_file, {len(prefix) + 1})"),
            ).otherwise(F.col("_file")),
        )

    def _rebase_dv(self, dv: DataFrame) -> DataFrame:
        """Stored DV entries back to absolute paths under THIS table's
        current root — the inverse of :meth:`_relativize_dv`, applied
        at read time (and by clone, which must freeze the source's
        relative entries to absolute before re-rooting them)."""
        prefix = os.path.abspath(self.path) + os.sep
        return dv.withColumn(
            "_file",
            F.when(
                F.col("_file").startswith("/") | F.col("_file").contains("://"),
                F.col("_file"),
            ).otherwise(F.concat(F.lit(prefix), F.col("_file"))),
        )

    # -- column mapping (rename / drop without rewrite) ----------------------

    def _current_map(self) -> list[list[str]] | None:
        return self._version_map(self.version())

    def _open_data(self, v: int, *paths: str) -> DataFrame:
        """Physical rows of version ``v`` read from ``paths`` with
        schema-evolution columns reconciled: when the version carries
        metadata-added columns, mixed file schemas (old base files
        without the column, post-add ``_upd`` files with it) union by
        name via mergeSchema, and a column present in NO opened file
        backfills as a typed NULL. The common no-evolution case takes
        the plain single-schema read — zero overhead.

        DEAD files (compacted away — their survivors live in an
        ``_upd`` dir) are excluded HERE, the one choke point every
        read and every DML predicate scan opens data through: when the
        version carries a dead list, directories expand to explicit
        live-file reads, so excluded files are never even OPENED (a
        row-level filter would still pay their IO). Every caller —
        read(), scan()/lookup() survivor opens, DELETE/UPDATE/
        overwrite predicate scans, CDC — inherits the exclusion."""
        dead = self._dead_abs(v)
        self._check_tombstones(v, paths, dead)
        empty_fallback = None
        if dead:
            files: list[str] = []
            for p in paths:
                if os.path.isdir(p):
                    files += [
                        os.path.join(p, f)
                        for f in sorted(os.listdir(p))
                        if f.startswith("part-")
                    ]
                else:
                    files.append(p)
            live = [f for f in files if os.path.abspath(f) not in dead]
            if not live and files:
                # every listed file is dead — serve the schema from one
                # dead file with all rows filtered (never an unreadable
                # empty-path read; content correctly empty)
                empty_fallback = files[0]
                live = [files[0]]
            paths = tuple(live)
        widened = self._version_widened(v)
        added = self._version_added(v)
        if widened:
            # type widening: files before the widen keep the narrow
            # physical type — an EXPLICIT read schema (widened types
            # applied over one sampled footer, added columns included)
            # makes the parquet vectorized reader upcast at scan time;
            # files lacking a column read typed NULLs, so this branch
            # subsumes the mergeSchema/backfill path too
            df = self.spark.read.schema(
                self._widened_read_schema(paths, widened, added)
            ).parquet(*paths)
        elif not added:
            df = self.spark.read.parquet(*paths)
        else:
            df = self.spark.read.option("mergeSchema", "true").parquet(*paths)
        if not widened:
            df = self._with_added(v, df, added)
        return df.filter(F.lit(False)) if empty_fallback else df

    def _widened_read_schema(self, paths, widened, added) -> str:
        """DDL read schema for a widened version: one sampled parquet
        footer's fields with the ``widened`` type overrides applied,
        plus ``added`` columns files may lack (explicit-schema reads
        null-backfill missing columns natively)."""
        sample = None
        for p in paths:
            if os.path.isdir(p):
                for f in sorted(os.listdir(p)):
                    if f.startswith("part-") and f.endswith(".parquet"):
                        sample = os.path.join(p, f)
                        break
            elif p.endswith(".parquet"):
                sample = p
            if sample:
                break
        if sample is None:
            raise ValueError(f"no parquet files to sample under {paths}")
        return ", ".join(
            f"`{n}` {t}" for n, t in footer_types(sample, widened, added).items()
        )

    def _with_added(self, v: int, df: DataFrame, added=None) -> DataFrame:
        added = self._version_added(v) if added is None else added
        for p, t in added.items():
            if p not in df.columns:
                df = df.withColumn(p, F.lit(None).cast(t))
        return df

    @staticmethod
    def _to_logical(df: DataFrame, vmap) -> DataFrame:
        """Physical file schema → the version's logical schema: rename
        per the map and DROP physical columns the map omits. Identity
        (no map) short-circuits — the common case costs nothing."""
        if not vmap:
            return df
        return df.select(*[F.col(p).alias(l) for l, p in vmap])

    @staticmethod
    def _to_physical(df: DataFrame, vmap) -> DataFrame:
        if not vmap:
            return df
        return df.select(*[F.col(l).alias(p) for l, p in vmap])

    def _to_phys_name(self, col: str, vmap) -> str:
        if not vmap:
            return col
        for l, p in vmap:
            if l == col:
                return p
        raise ValueError(f"no column {col!r} in the current schema")

    @staticmethod
    def _to_log_name(col: str, vmap) -> str:
        if not vmap:
            return col
        for l, p in vmap:
            if p == col:
                return l
        raise ValueError(
            f"physical column {col!r} is not in the current schema "
            "(dropped?)"
        )

    def _effective_map(self) -> list[list[str]]:
        """The current map, materialized to an explicit identity list
        when absent (first rename/drop on a legacy table)."""
        vmap = self._current_map()
        if vmap:
            return [list(e) for e in vmap]
        v = self.version()
        data_dir, _, appends = self._resolve(v)
        return [
            [c, c]
            for c in self.spark.read.parquet(data_dir, *appends).columns
        ]

    def _dv_df(self, dv_dir: str) -> DataFrame:
        """The deletion vector as (_file, _pos) with table-relative
        entries rebased to this root, broadcast-hinted when its
        on-disk size is small (the common case — a DV is O(deleted
        rows)): the anti-join then runs map-side against every base
        partition instead of shuffling the whole table on (file, pos)."""
        dv = self._rebase_dv(
            self.spark.read.parquet(dv_dir).select("_file", "_pos")
        )
        size = sum(
            os.path.getsize(os.path.join(dv_dir, f))
            for f in os.listdir(dv_dir)
            if f.startswith("part-")
        )
        return F.broadcast(dv) if size < 32 * 1024 * 1024 else dv

    def history(self) -> DataFrame:
        return snapshot_history(self.spark, self.path)

    def as_of(self, ts: float) -> DataFrame:
        """TIMESTAMP AS OF: the table as of wall-clock ``ts`` (epoch
        seconds) — the newest LINEAGE version whose commit time is ≤
        ``ts`` (walking parent pointers, so abandoned rolled-back
        branches never serve a timestamp read; the resolve is
        :meth:`~.table_log.TableLog._resolve_ts_version`). Raises if
        ``ts`` predates the chain's first commit."""
        return self.read(version=self._resolve_ts_version(ts))

    def changes(
        self, from_version: int, to_version: int, include_before: bool = False
    ) -> DataFrame:
        """CDC between two published versions on the table key —
        (key, change_type ∈ {insert, delete, update}, new values;
        NULL for deletes) via the proven upsert.snapshot_diff. The
        read-changes face of the table contract: a downstream
        consumer replays ``changes(v, version())`` instead of
        re-reading the table — change volume, not table volume. One
        full-outer join between the two snapshots (co-partitioned on
        the key at scale).

        ``include_before=True`` switches to Delta CDF's row shape
        (upsert.snapshot_cdf): updates emit an update_preimage AND an
        update_postimage row, which is what an aggregate-maintaining
        consumer needs for retraction arithmetic."""
        from .upsert import snapshot_cdf, snapshot_diff

        fn = snapshot_cdf if include_before else snapshot_diff
        # each side reads under its version's own schema; the key name
        # resolves through the TO version's map (a key renamed WITHIN
        # the range makes the join fail loudly, never silently wrong)
        vmap = self._version_map(to_version)
        frm, to = (
            self.read(version=from_version),
            self.read(version=to_version),
        )
        # across an ADD COLUMN boundary the window is served under the
        # TO schema: untouched rows read the column as NULL at `to`,
        # so the FROM side backfills the same NULL — a pure metadata
        # add diffs as zero change
        for f_ in to.schema.fields:
            if f_.name not in frm.columns:
                frm = frm.withColumn(f_.name, F.lit(None).cast(f_.dataType))
        return fn(
            frm,
            to,
            [self._to_log_name(k, vmap) for k in self.key],
        )

    def changes_signed(
        self, from_version: int, to_version: int
    ) -> DataFrame:
        """Signed row deltas between two published versions — the
        retraction-arithmetic feed an aggregate-maintaining CDF
        consumer folds in: retracted rows carry ``sign`` −1, added
        rows +1 (an UPDATE contributes one of each; intermediate
        births-and-deaths inside the window cancel by construction).

        When every commit in the range is a DV op or append (the op
        tags the classifier records), the delta is read from the
        PHYSICAL change files: retracted = positions in DV(to) −
        DV(from), fetched from ONLY the files those positions name;
        added = the window's ``_upd`` rows still alive at ``to``.
        Cost ∝ change volume — never a table scan, the property that
        makes tailing a 100 TB table's commits viable.

        A MINOR COMPACTION in the range is content-identical (zero
        logical change), so it contributes nothing — but its DV
        surgery (victim entries dropped, dead list grown) breaks the
        one-shot DV(to)−DV(from) arithmetic across it. The window
        therefore SEGMENTS at compact commits: each maximal run of DV
        ops/appends takes the physical fast path against its own
        endpoints' DVs, the compact steps are skipped, and the
        segment deltas union — still cost ∝ change volume, and a
        nightly compaction no longer knocks consumers onto the
        snapshot diff. (Cross-segment birth-and-death pairs emit as
        +1/−1 rather than cancelling — the signed fold is identical.)
        A copy commit (merge/overwrite/optimize/restore) in the range
        still falls back to the proven full snapshot diff
        (upsert.snapshot_cdf), which is what such a commit
        semantically is."""
        from .upsert import snapshot_cdf

        _FAST = ("dv_delete", "dv_update", "dv_overwrite", "append")
        walked = self._walk_range(to_version, from_version)
        chain_ok = walked is not None and all(
            rec.get("op") in _FAST for rec in walked.values()
        )
        vmap = self._version_map(to_version)
        if walked is not None and not chain_ok and all(
            rec.get("op") in (*_FAST, "compact")
            for rec in walked.values()
        ):
            # segment at compact commits; each fast run diffs its own
            # endpoint DVs, compact steps contribute nothing
            out = None
            seg_start = from_version
            for v in sorted(walked):
                if walked[v].get("op") == "compact":
                    if v - 1 > seg_start:
                        d = self.changes_signed(seg_start, v - 1)
                        out = d if out is None else out.unionByName(d)
                    seg_start = v
            if to_version > seg_start:
                d = self.changes_signed(seg_start, to_version)
                out = d if out is None else out.unionByName(d)
            if out is not None:
                return out
            # window was compact-only — zero change, typed empty
            empty = self.read(version=to_version).filter(F.lit(False))
            return empty.select("*", F.lit(1).alias("sign"))
        if not chain_ok:
            # semantic fallback: full-outer diff → signed rows. Across
            # an ADD COLUMN boundary the window is served under the TO
            # version's schema: the column reads NULL at `to` for
            # untouched rows, so the FROM side backfills the same NULL
            # — a pure metadata add diffs as zero change.
            frm, to = (
                self.read(version=from_version),
                self.read(version=to_version),
            )
            for f_ in to.schema.fields:
                if f_.name not in frm.columns:
                    frm = frm.withColumn(
                        f_.name, F.lit(None).cast(f_.dataType)
                    )
            cdf = snapshot_cdf(
                frm,
                to,
                [self._to_log_name(k, vmap) for k in self.key],
            )
            cols = [
                c for c in cdf.columns if c != "_change_type"
            ]
            return cdf.select(
                *cols,
                F.when(
                    F.col("_change_type").isin("insert", "update_postimage"),
                    F.lit(1),
                )
                .otherwise(F.lit(-1))
                .alias("sign"),
            )

        base_dir, dv_from, appends_from = self._resolve(from_version)
        _, dv_to, appends_to = self._resolve(to_version)
        empty_dv = self.spark.createDataFrame([], "_file string, _pos long")
        dvf = (
            self._rebase_dv(
                self.spark.read.parquet(dv_from).select("_file", "_pos")
            )
            if dv_from is not None
            else empty_dv
        )
        dvt = (
            self._rebase_dv(
                self.spark.read.parquet(dv_to).select("_file", "_pos")
            )
            if dv_to is not None
            else empty_dv
        )
        dead = dvt.join(dvf, ["_file", "_pos"], "left_anti")
        # retracted positions inside the FROM universe (positions in
        # window-born _upd files never existed at `from` — they are
        # intra-window births that died, net zero). Read ONLY the
        # files the dead positions name.
        from_universe = {
            os.path.abspath(d) for d in (*appends_from, base_dir)
        }
        dead_files = sorted(
            f
            for (f,) in dead.select("_file").distinct().collect()
            if os.path.dirname(f) in from_universe
        )
        phys_cols = self._open_data(
            to_version, base_dir, *appends_to
        ).columns
        logical = (
            [F.col(p).alias(l) for l, p in vmap]
            if vmap
            else [F.col(c) for c in phys_cols]
        )
        if dead_files:
            pre = (
                self._tagged(self._open_data(to_version, *dead_files))
                .join(dead, ["_file", "_pos"], "inner")
                .select(*logical, F.lit(-1).alias("sign"))
            )
        else:
            pre = (
                self._open_data(to_version, base_dir, *appends_to)
                .filter(F.lit(False))
                .select(*logical, F.lit(-1).alias("sign"))
            )
        window_upds = [
            d for d in appends_to if os.path.abspath(d) not in from_universe
        ]
        if window_upds:
            post = (
                self._tagged(self._open_data(to_version, *window_upds))
                .join(dvt, ["_file", "_pos"], "left_anti")
                .select(*logical, F.lit(1).alias("sign"))
            )
            return pre.unionByName(post)
        return pre


    # -- reads through the skipping layer ----------------------------------

    def scan(self, col: str, lo, hi) -> tuple[DataFrame, int, int]:
        """Manifest-pruned range scan of the CURRENT version: files
        whose [min,max] of ``col`` miss [lo,hi] are never opened;
        survivors get the exact residual filter. A deletion-vector
        version inherits its parent's manifest — a superset range, so
        the prune stays conservative-correct — and the DV is
        anti-joined from the pruned survivors only, before the exact
        residual. ``col`` is a LOGICAL name; manifests key physical
        names, so the prune translates through the column map. Returns
        (df, files_read, files_total)."""
        v = self.version()
        data_dir, dv_dir, appends = self._resolve(v)
        # sidecar manifests live in the version's own dir — resolved,
        # not assumed renamed (r13 no-rename mode)
        vdir = os.path.dirname(dv_dir) if dv_dir else data_dir
        vmap = self._version_map(v)
        pcol = self._to_phys_name(col, vmap)
        if dv_dir is None:
            df, fr, tot = read_with_skipping(
                self.spark, vdir, pcol, lo, hi
            )
            return self._to_logical(df, vmap), fr, tot
        from .manifest import stats_survivors

        # manifest entries are basenames resolved against the
        # version's resolved data dir — for a DV version the INHERITED
        # manifest's files live in the parent's base, which is exactly
        # what _resolve returned. stats_survivors applies the one
        # conservative keep rule for BOTH manifest representations
        # (inline JSON / distributed parquet).
        keep, total = stats_survivors(
            self.spark, vdir, data_dir, pcol, lo, hi
        )
        # appended-row files (merge-on-read UPDATEs) are not in the
        # inherited manifest — they are always read (conservative;
        # they are O(updated) small until OPTIMIZE folds them in)
        app_files = self._append_files(appends)
        keep += app_files
        total += len(app_files)
        # compacted-away files may still sit in the inherited manifest
        # (superset is conservative) — drop them from the survivor list
        # driver-side so they are never opened
        dead = self._dead_abs(v)
        if dead:
            keep = [f for f in keep if os.path.abspath(f) not in dead]
        cols = self._open_data(v, data_dir, *appends).columns
        if not keep:
            empty = self._open_data(v, data_dir, *appends).filter(
                F.lit(False)
            )
            return self._to_logical(empty.select(*cols), vmap), 0, total
        df = (
            self._tagged(self._open_data(v, *keep))
            .join(self._dv_df(dv_dir), ["_file", "_pos"], "left_anti")
            .filter((F.col(pcol) >= lo) & (F.col(pcol) <= hi))
            .select(*cols)
        )
        return self._to_logical(df, vmap), len(keep), total

    def lookup(self, value) -> tuple[DataFrame, int, int]:
        """Bloom-pruned POINT LOOKUP on the configured ``bloom_col``
        of the CURRENT version: open only files whose per-file bloom
        may contain ``value`` (no false negatives; a false positive
        costs one file read, never a wrong row), apply the exact
        equality filter — and on a deletion-vector version anti-join
        the DV, so a lookup of a DELETED key returns zero rows. This
        is the 100 TB point-lookup path: on a well-sized manifest a
        single-key probe opens ~1 file out of thousands, with the
        whole prune decided driver-side from the manifest — no
        cluster job touches the excluded files. Returns
        (df, files_read, files_total)."""
        if not self.bloom_col:
            raise ValueError("table has no bloom_col configured")
        from .manifest import bloom_survivors

        v = self.version()
        data_dir, dv_dir, appends = self._resolve(v)
        # bloom sidecars live in the version's own dir — resolved,
        # not assumed renamed (r13 no-rename mode)
        vdir = os.path.dirname(dv_dir) if dv_dir else data_dir
        # one probe rule for BOTH bloom representations (inline JSON /
        # distributed parquet — the ≥4096-file path)
        keep, total = bloom_survivors(self.spark, vdir, data_dir, value)
        # appended-row files carry no bloom entries — always probed
        app_files = self._append_files(appends)
        keep += app_files
        total += len(app_files)
        dead = self._dead_abs(v)
        if dead:
            keep = [f for f in keep if os.path.abspath(f) not in dead]
        vmap = self._version_map(v)
        cols = self._open_data(v, data_dir, *appends).columns
        if not keep:
            empty = self._open_data(v, data_dir, *appends).filter(
                F.lit(False)
            )
            return self._to_logical(empty.select(*cols), vmap), 0, total
        df = self._open_data(v, *keep)
        if dv_dir is not None:
            df = self._tagged(df).join(
                self._dv_df(dv_dir), ["_file", "_pos"], "left_anti"
            )
        return (
            self._to_logical(
                df.filter(F.col(self.bloom_col) == value).select(*cols),
                vmap,
            ),
            len(keep),
            total,
        )

    def _build_sidecars(self, vdir: str) -> None:
        """Zone-map + bloom manifests derived from the version's OWN
        files after they land — no sidecar can disagree with the data
        it describes. Runs on the commit's STAGING dir (copy commits)
        or the verified scratch (OPTIMIZE): entries key file basenames,
        so the publish rename — and a later table relocation — keep
        them valid."""
        if self.stat_cols:
            self._write_manifest(
                vdir,
                self.spark.read.parquet(vdir),
                F.element_at(F.split(F.input_file_name(), "/"), -1),
            )
        if self.bloom_col:
            from .manifest import write_bloom_manifest

            write_bloom_manifest(
                self.spark,
                vdir,
                self.bloom_col,
                self.bloom_m,
                self.bloom_k,
                fmt=self.manifest_format,
            )

    def _write_manifest(self, vdir: str, df: DataFrame, file_col: Column) -> None:
        """Per-file [min,max] manifest over the stat columns, grouped
        by ``file_col``. Copy commits rebuild it from their own files;
        DV commits and clones INHERIT the parent's manifest instead
        (a superset range is still a correct conservative prune, and
        it saves a full scan per delete — OPTIMIZE tightens).
        Representation (JSON vs distributed parquet — the 10⁶-file
        path) is the table's ``manifest_format`` config, decided in
        operators/manifest.py."""
        from .manifest import write_stats_manifest

        write_stats_manifest(
            vdir, df, file_col, list(self.stat_cols), fmt=self.manifest_format
        )
