"""``spark.read.format("managed_table")`` — a batch Python DataSource
over a ManagedTable version with FILTER-PUSHDOWN file pruning.

``ManagedTable.scan()``/``lookup()`` already prune files through the
zone-map/bloom manifests, but they are method calls — a user writing
plain DataFrame code (``load().filter(...)``) doesn't get them. This
source closes that gap with Spark 4's Python DataSource pushdown API:
Catalyst calls :meth:`ManagedTableReader.pushFilters` with the
query's conjunctive predicates, the reader keeps the range/equality
ones it can evaluate against the version's manifests, and
``partitions()`` emits ONE InputPartition per SURVIVING file — the
skipping layer wired into the engine's own optimizer, so
``.filter(col("es") < x)`` prunes files exactly like ``scan()``.

The driver side reads the version through the table's own
``TableLog`` (operators/table_log.py — the reader ManagedTable uses:
same feature gate, same named errors for vacuumed dirs, same
tombstone guard) and the manifests through operators/manifest.py.

Pruning is PRUNE-ONLY pushdown (the parquet min/max model): every
filter is also returned to Spark as unsupported, so the engine
re-applies the exact predicate on the rows the reader emits — a
manifest bug can cost extra IO, never a wrong row. Conservative keep
rules match operators/manifest.py (NULL stats keep; range
intersection), and the bloom probe is the one ``lookup()`` uses
(operators/manifest.py), so engine and reader never disagree on it.

Executor-side: each task opens its one parquet file with pyarrow. A
file the version's DV touches is read sequentially with row positions
reconstructed (the ``_metadata.row_index`` contract) and dead
positions dropped; an untouched file skips position tracking
entirely. Column mapping renames physical→logical, metadata-added
columns backfill as typed nulls, widened columns upcast per batch —
the full read contract of ``ManagedTable.read()``, behind
``spark.read.format(...)``.

``spark.sql.python.filterPushdown.enabled`` must be true (the engine
REFUSES a pushFilters reader under the default false, with a clear
message naming the conf — pinned in tests); ``register_table_source``
sets it on the session it registers with.

Options: ``path`` (table root), ``version`` (time travel; default
current).
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    LessThan,
    LessThanOrEqual,
)

from ..operators.manifest import bloom_keep, manifest_rows
from ..operators.table_log import TableLog
from .table_cdf import (
    _dv_file_names,
    _dv_positions,
    _file_batches,
    _match_keys,
    _part_files,
    _project,
)

_RANGE_FILTERS = (
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    LessThan,
    LessThanOrEqual,
    In,
)


def _stats_keep(row: dict, pcol: str, flt) -> bool:
    """Conservative zone-map keep rule for one pushed filter — the
    manifest.stats_survivors contract: NULL stats keep; a file is
    dropped only when its [min,max] provably excludes every matching
    value."""
    mn, mx = row.get(f"min_{pcol}"), row.get(f"max_{pcol}")
    if mn is None or mx is None:
        return True
    try:
        if isinstance(flt, EqualTo):
            return mn <= flt.value <= mx
        if isinstance(flt, In):
            # pyspark's In dataclass names its tuple field `value`
            return any(mn <= v <= mx for v in flt.value)
        if isinstance(flt, GreaterThan):
            return mx > flt.value
        if isinstance(flt, GreaterThanOrEqual):
            return mx >= flt.value
        if isinstance(flt, LessThan):
            return mn < flt.value
        if isinstance(flt, LessThanOrEqual):
            return mn <= flt.value
    except TypeError:
        return True  # incomparable serialized types — keep, never drop
    return True


@dataclass
class _BatchPartition(InputPartition):
    file: str
    keys: tuple  # DV spellings addressing this file
    dv_dir: str | None  # None = DV provably doesn't touch this file
    fields: tuple  # ((logical, physical, sql_type), ...)


class ManagedTableReader(DataSourceReader):
    def __init__(self, options, fields):
        self.path = options.get("path")
        if not self.path:
            raise ValueError(
                "managed_table requires .option('path', <table>)"
            )
        self.version = options.get("version")
        self._fields = fields
        self._log = TableLog(self.path)
        self._pruning: list = []

    def pushFilters(self, filters):
        for f in filters:
            if isinstance(f, _RANGE_FILTERS) and len(f.attribute) == 1:
                self._pruning.append(f)
            # prune-only pushdown: EVERY filter goes back to Spark for
            # exact re-application — the manifest can only skip IO
            yield f

    def partitions(self) -> Sequence[InputPartition]:
        log = self._log
        v = int(self.version) if self.version is not None else log.version()
        base_dir, dv_dir, appends = log._resolve(v)
        dead = log._dead_abs(v)
        # loud refusal when this version reads reclaim_dead-removed
        # files (a time-travel read outside retention)
        log._check_tombstones(v, [base_dir, *appends], dead)
        vmap = log._version_map(v)
        to_phys = {l: p for l, p in vmap} if vmap else None
        vdir = log._vdir(v)  # r13: staged publish serves
        root = os.path.abspath(self.path)
        base_files = [
            f
            for f in _part_files(base_dir)
            if os.path.abspath(f) not in dead
        ]
        # zone-map pruning applies to the manifested base files; the
        # manifest lives with the version dir (inherited for DV
        # versions — superset, conservative-correct)
        rows = manifest_rows(vdir)
        if rows is not None and self._pruning:
            stats = {r["file"]: r for r in rows}
            kept = []
            for f in base_files:
                row = stats.get(os.path.basename(f))
                if row is None:
                    kept.append(f)  # unknown to the manifest — keep
                    continue
                if all(
                    _stats_keep(
                        row,
                        to_phys.get(flt.attribute[0], flt.attribute[0])
                        if to_phys
                        else flt.attribute[0],
                        flt,
                    )
                    for flt in self._pruning
                ):
                    kept.append(f)
            base_files = kept
        # bloom pruning for equality probes
        for flt in self._pruning:
            if not isinstance(flt, (EqualTo, In)):
                continue
            col = flt.attribute[0]
            allowed = bloom_keep(
                vdir,
                to_phys.get(col, col) if to_phys else col,
                [flt.value] if isinstance(flt, EqualTo) else list(flt.value),
            )
            if allowed is not None:
                base_files = [
                    f for f in base_files if os.path.basename(f) in allowed
                ]
        # appended-row files carry no manifest entries — always read
        app_files = [
            f
            for d in appends
            for f in _part_files(d)
            if os.path.abspath(f) not in dead
        ]
        dvt_files = _dv_file_names(dv_dir, root) if dv_dir else set()
        parts: list[InputPartition] = []
        for f in base_files + app_files:
            touched = os.path.abspath(f) in dvt_files
            parts.append(
                _BatchPartition(
                    f,
                    _match_keys(os.path.abspath(f), root),
                    dv_dir if touched else None,
                    self._fields,
                )
            )
        return parts

    def read(self, partition: _BatchPartition) -> Iterator:
        # an untouched file (dv_dir None) skips position tracking
        dead = _dv_positions(partition.dv_dir, partition.keys)
        for batch in _file_batches(partition.file, drop=dead):
            yield _project(batch, partition.fields)


class ManagedTableDataSource(DataSource):
    @classmethod
    def name(cls):
        return "managed_table"

    def _table_fields(self) -> tuple:
        path = self.options.get("path")
        if not path:
            raise ValueError(
                "managed_table requires .option('path', <table>)"
            )
        return TableLog(path).table_fields(self.options.get("version"))

    def schema(self) -> str:
        return ", ".join(
            f"`{l}` {t}" for l, _, t in self._table_fields()
        )

    def reader(self, schema):
        return ManagedTableReader(self.options, self._table_fields())


def register_table_source(spark) -> None:
    """Idempotent registration of the source with a session — also
    enables the engine's Python-source filter pushdown (runtime-
    settable), without which Spark refuses any reader that implements
    pushFilters."""
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(ManagedTableDataSource)
