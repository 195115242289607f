"""Z-order (Morton) layout — multi-column data skipping at write time.

Sorting a table by one column gives perfect min/max pruning on that
column and none on any other; interleaving the bits of TWO (or more)
columns into one Morton key and range-partitioning + sorting on it
gives every interleaved column locality, so parquet row-group min/max
stats prune on ANY of them (the technique behind Delta/Iceberg
Z-ORDER clustering). At 100 TB this is the difference between
scanning 1/1000 of the files and scanning all of them for a
two-predicate query.

The z-value is pure integer bit math (shift/mask/or) — built-in
column expressions, engine-portable, so an oracle can verify every
key exactly. Columns must be pre-mapped to non-negative ints of
``bits`` width (rank, bucket id, or truncated epoch — the caller owns
the monotone mapping, as in every Z-order implementation).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .logstore import get_log_store


def z_value(cols: Sequence[Column | str], bits: int = 16) -> Column:
    """Morton key interleaving ``bits`` low bits of each column:
    output bit ``i*n + j`` = bit ``i`` of column ``j``. With n·bits
    ≤ 63 the key stays in a signed BIGINT. Values are taken modulo
    ``2^bits`` (explicit mask) — the caller owns a monotone mapping
    into that range if full-range clustering is wanted."""
    n = len(cols)
    if n * bits > 63:
        raise ValueError(f"{n} cols x {bits} bits exceeds a signed BIGINT")
    # inputs are masked to their low `bits` explicitly: values are
    # taken modulo 2^bits (documented), and a negative long's
    # arithmetic shiftright can no longer scatter 1-bits into every
    # extracted position (code-review r6 finding)
    mask = (1 << bits) - 1
    cs = [
        (F.col(c).cast("long") if isinstance(c, str) else c.cast("long")).bitwiseAND(
            F.lit(mask)
        )
        for c in cols
    ]
    z = F.lit(0).cast("long")
    for i in range(bits):
        for j, c in enumerate(cs):
            z = z.bitwiseOR(
                F.shiftleft(F.shiftright(c, i).bitwiseAND(F.lit(1)), i * n + j)
            )
    return z


def compact_parquet(
    spark,
    src_dir: str,
    dst_dir: str,
    target_bytes: int = 128 * 1024 * 1024,
    sort_cols: Sequence[str] = (),
) -> int:
    """Small-file compaction: rewrite a parquet directory into
    ``ceil(total_bytes / target_bytes)`` files (the classic fix for
    streaming/micro-batch sinks that accrete thousands of tiny files —
    each file costs a task, a footer read, and an object-store request
    at 100 TB). Optional ``sort_cols`` re-sorts within output files so
    min/max stats stay tight after the rewrite (pairs with
    :func:`zorder_layout` for the clustered variant). Returns the
    output file count."""
    import math

    df = spark.read.parquet(src_dir)
    # size via Hadoop FS over the scan's own file list — correct for
    # ANY scheme Spark can read (s3a/hdfs/file); a driver-local
    # os.walk would silently see 0 bytes for remote paths and funnel
    # the whole dataset into one file (code-review r6 finding)
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    total = 0
    for f in df.inputFiles():
        p = jvm.org.apache.hadoop.fs.Path(f)
        total += p.getFileSystem(hconf).getFileStatus(p).getLen()
    n_out = max(1, math.ceil(total / target_bytes))
    out = df.repartition(n_out)
    if sort_cols:
        out = out.sortWithinPartitions(*sort_cols)
    out.write.mode("overwrite").parquet(dst_dir)
    return n_out


def zorder_layout(
    df: DataFrame, cols: Sequence[str], bits: int = 16, n_files: int = 32
) -> DataFrame:
    """Cluster ``df`` for write: range-partition on the Morton key of
    ``cols`` into ``n_files`` output partitions and sort within each —
    every partition then covers a compact z-range, so each output
    file's min/max stats are tight on EVERY interleaved column. The
    ``_z`` column is kept for verification/debug; drop it before
    writing if the schema must stay clean."""
    keyed = df.withColumn("_z", z_value(list(cols), bits))
    return keyed.repartitionByRange(n_files, "_z").sortWithinPartitions("_z")


def hive_partitioned_write(
    df: DataFrame,
    path: str,
    partition_cols: Sequence[str],
    mode: str = "overwrite",
) -> None:
    """Hive-style partitioned layout: one directory per partition
    value, so a reader's filter on the partition column prunes whole
    directories BEFORE any file is opened (PartitionFilters in the
    scan — zero I/O for excluded partitions, the coarsest and
    cheapest data-skipping layer, ahead of z-order min/max stats and
    row-group pushdown). Use for low-cardinality columns a large
    fraction of queries filter on (date, source, event type); high
    cardinality here is the classic small-files trap — that is what
    compact_parquet and z-order are for."""
    df.write.mode(mode).partitionBy(*partition_cols).parquet(path)

def _frozen_bins(
    df: DataFrame,
    order_cols: Sequence[str],
    num_partitions: int | None,
    bins_per_partition: int,
) -> tuple[int, DataFrame]:
    """Shared frozen-boundary binning for the global-order two-pass
    operators (assign_global_ids / global_prefix_sum): approxQuantile
    boundaries of the first order column FROZEN as plan literals →
    binning is pure column math, identical in every job that reuses
    the returned plan (repartitionByRange's RDD-id-seeded sampling is
    not — see assign_global_ids). Returns (n_parts, df + ``_bin``).
    The first order column must be numeric."""
    n_parts = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    n_bins = max(n_parts * bins_per_partition, 1)
    first = order_cols[0]
    probs = [i / n_bins for i in range(1, n_bins)]
    bounds = (
        sorted(set(df.stat.approxQuantile(first, probs, 0.01))) if probs else []
    )
    if bounds:
        arr = F.array(*[F.lit(b) for b in bounds])
        bin_col = F.size(
            F.filter(arr, lambda b: F.col(first).cast("double") > b)
        ).cast("long")
    else:
        bin_col = F.lit(0).cast("long")
    return n_parts, df.withColumn("_bin", bin_col)


def assign_global_ids(
    df: DataFrame,
    order_cols: Sequence[str],
    out_col: str = "row_id",
    num_partitions: int | None = None,
    bins_per_partition: int = 4,
) -> DataFrame:
    """Contiguous 1-based global row numbers over a total order —
    WITHOUT the single-partition trap: ``row_number() OVER (ORDER BY
    …)`` with no PARTITION BY plans an Exchange SinglePartition, i.e.
    the entire dataset funnels through one task (pytest pins this).
    At 100 TB that plan does not finish.

    Why not the textbook zipWithIndex recipe (range-partition, count
    per partition, stamp offset + local position)? It silently
    miscounts: ``repartitionByRange`` samples with a seed derived from
    the RDD id, so the count job and the stamp job see DIFFERENT
    boundaries — measured at sf0.01, two back-to-back count jobs over
    the same lineage returned different per-partition sizes, and the
    stamped ids drifted by +25. Caching "fixes" it only until a block
    is evicted and recomputed with fresh boundaries.

    This implementation makes the binning itself deterministic
    instead, exploiting that the OUTPUT is invariant to where the bin
    boundaries fall: boundaries of the first order column are
    estimated once with ``approxQuantile`` and FROZEN as literals in
    the plan (driver model state, ≤ bins·8 bytes), every row maps to
    a bin with pure column math, per-BIN counts come from one
    deterministic hash agg, and the stamp pass hash-partitions on the
    bin, sorts within partitions by (bin, order), and writes
    ``bin_offset + position-within-bin`` in one Arrow pass. Boundary
    quality only affects balance, never correctness. The first order
    column must be numeric (boundary estimation); the remaining
    columns refine ordering within a boundary value.

    ``order_cols`` must be a total order (unique key) or numbering
    within ties is arbitrary (though still contiguous and 1:1).
    """
    from pyspark.sql import types as T

    n_parts, binned = _frozen_bins(df, order_cols, num_partitions, bins_per_partition)
    counts = binned.groupBy("_bin").count().collect()
    by_bin = {int(r["_bin"]): r["count"] for r in counts}
    offsets: dict[int, int] = {}
    acc = 0
    for b in sorted(by_bin):
        offsets[b] = acc
        acc += by_bin[b]

    part = binned.repartition(n_parts, "_bin").sortWithinPartitions(
        "_bin", *order_cols
    )
    schema = T.StructType(
        [f for f in part.schema.fields if f.name != "_bin"]
        + [T.StructField(out_col, T.LongType(), False)]
    )

    def _stamp(batches):
        import numpy as np

        pos: dict[int, int] = {}
        for pdf in batches:
            bins = pdf["_bin"].to_numpy()
            ids = np.empty(len(bins), dtype="int64")
            # rows arrive sorted by (_bin, order): stamp whole equal-bin
            # segments vectorized (a per-row Python loop measured 6x
            # slower at 20M rows)
            change = np.flatnonzero(np.diff(bins)) + 1
            starts = np.concatenate(([0], change))
            ends = np.concatenate((change, [len(bins)]))
            for s, e in zip(starts, ends):
                b = int(bins[s])
                nxt = pos.get(b, offsets.get(b, 0))
                ids[s:e] = np.arange(nxt + 1, nxt + 1 + (e - s))
                pos[b] = nxt + (e - s)
            pdf = pdf.drop(columns=["_bin"])
            pdf[out_col] = ids
            yield pdf

    return part.mapInPandas(_stamp, schema=schema)


def global_prefix_sum(
    df: DataFrame,
    order_cols: Sequence[str],
    value_col: str,
    out_col: str = "prefix_sum",
    exclusive: bool = True,
    num_partitions: int | None = None,
    bins_per_partition: int = 4,
) -> DataFrame:
    """Running total of ``value_col`` over a GLOBAL order without the
    Exchange SinglePartition a bare ``sum() OVER (ORDER BY …)`` plans —
    the generalization of :func:`assign_global_ids` (which is this
    with value ≡ 1): frozen approxQuantile boundaries bin the order
    deterministically, one hash agg totals each bin, bin totals
    cumsum to base offsets on the driver (bounded model state), and a
    per-bin window adds the within-bin running sum to its bin's base.
    Correctness is invariant to where the boundaries fall; they only
    balance the per-bin sorts. ``value_col`` must be integral so
    offsets are exact; NULL values count as 0 (the SQL SUM convention,
    made explicit so all-NULL bins can't poison the driver offsets —
    code-review finding). Exclusive by default (the value's own row
    not included) — that is what shard/packing assignment wants."""
    from pyspark.sql import Window

    _, binned = _frozen_bins(df, order_cols, num_partitions, bins_per_partition)
    val = F.coalesce(F.col(value_col).cast("long"), F.lit(0))
    totals = binned.groupBy("_bin").agg(F.sum(val).alias("_t")).collect()
    by_bin = {int(r["_bin"]): int(r["_t"]) for r in totals}
    base: dict[int, int] = {}
    acc = 0
    for b in sorted(by_bin):
        base[b] = acc
        acc += by_bin[b]
    base_map = F.create_map(
        *[F.lit(x) for kv in base.items() for x in kv]
    ) if base else F.create_map()
    w = (
        Window.partitionBy("_bin")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    within = F.sum(val).over(w)
    if exclusive:
        within = within - val
    return binned.withColumn(
        out_col,
        (F.coalesce(F.element_at(base_map, F.col("_bin")), F.lit(0)) + within).cast(
            "long"
        ),
    ).drop("_bin")


def shard_manifest(
    df: DataFrame,
    order_cols: Sequence[str],
    size_col: str,
    budget: int,
) -> DataFrame:
    """Assign rows to contiguous fixed-budget shards in global order
    (the training-data sharding step after dedup/curation: stable
    shard boundaries every worker can reproduce): shard =
    exclusive-prefix-sum(size) div budget — a row goes to the shard
    where its bytes START, so every shard except the last holds at
    least ``budget`` minus one row's worth and order is never broken.
    Runs on :func:`global_prefix_sum`, so no single-partition funnel;
    the assignment is a pure function of (order, sizes, budget)."""
    ps = global_prefix_sum(df, order_cols, size_col, "_start", exclusive=True)
    return ps.withColumn(
        "shard_id", F.expr(f"_start div {budget}").cast("long")
    ).drop("_start")


def write_with_stats(
    df: DataFrame, path: str, stat_cols: Sequence[str]
) -> dict:
    """Write parquet plus an Iceberg-style file manifest: per output
    file, min/max of ``stat_cols`` (collected in ONE pass over the
    written data, grouped by ``input_file_name``) into
    ``<path>/_manifest.json``. The manifest is the file-level
    data-skipping layer an engine consults BEFORE opening any footer —
    coarser than row-group stats, free to check, and exactly what
    makes the z-order/sorted layouts pay off for selective scans.
    Returns the manifest dict. Pair with a clustering layout
    (zorder_layout / sortWithinPartitions) — stats on randomly
    distributed data span the whole domain and prune nothing."""
    import json
    import os

    from pyspark.sql.types import (
        BooleanType,
        DecimalType,
        NumericType,
        StringType,
    )

    # Fail FAST on stat columns whose min/max don't survive the JSON
    # round-trip (ADVICE r6: json.dump(default=str) silently turned
    # date/timestamp stats into strings, and the failure only surfaced
    # at query time in read_with_skipping, after the write succeeded).
    # DecimalType is numeric but collects as decimal.Decimal, which
    # default=str ALSO stringifies — the exact failure the guard
    # exists to prevent (r7 code-review catch) — while BooleanType
    # round-trips JSON losslessly and is allowed.
    for c in stat_cols:
        dt = df.schema[c].dataType
        json_safe = (
            isinstance(dt, (NumericType, StringType, BooleanType))
            and not isinstance(dt, DecimalType)
        )
        if not json_safe:
            raise ValueError(
                f"write_with_stats: stat column {c!r} has type "
                f"{dt.simpleString()} — only int/float/string/boolean "
                "stats round-trip through the JSON manifest; cast the "
                "column (e.g. date→epoch days, decimal→double) before "
                "writing"
            )

    df.write.mode("overwrite").parquet(path)
    back = df.sparkSession.read.parquet(path)
    aggs = []
    for c in stat_cols:
        aggs.append(F.min(c).alias(f"min_{c}"))
        aggs.append(F.max(c).alias(f"max_{c}"))
    # manifests key file BASENAMES, resolved against the directory at
    # read time — a manifest built in a staging dir stays valid after
    # the publish rename, and a relocated table keeps pruning
    # (code-review r10; absolute paths went stale on both)
    rows = (
        back.groupBy(
            F.element_at(F.split(F.input_file_name(), "/"), -1).alias("file")
        )
        .agg(*aggs, F.count(F.lit(1)).alias("n_rows"))
        .collect()
    )
    manifest = {
        "stat_cols": list(stat_cols),
        "files": [r.asDict() for r in rows],
    }
    with open(os.path.join(path, "_manifest.json"), "w") as f:
        json.dump(manifest, f, default=str)
    return manifest


def read_with_skipping(
    spark, path: str, col: str, lo, hi
) -> tuple[DataFrame, int, int]:
    """Manifest-pruned read: keep only files whose [min, max] range of
    ``col`` intersects [lo, hi], then apply the exact filter to the
    survivors. Returns (df, files_read, files_total) so callers (and
    tests) can audit the prune rate. Correct for any manifest because
    pruning is conservative (range intersection) and the residual
    filter is exact."""
    # one keep rule for BOTH manifest representations (inline JSON /
    # distributed parquet — the ≥4096-file path); the conservative
    # NULL-keep + range-intersection semantics and the TypeError
    # guard live in operators/manifest.py
    from .manifest import stats_survivors

    keep, total = stats_survivors(spark, path, path, col, lo, hi)
    if not keep:
        empty = spark.read.parquet(path).filter(F.lit(False))
        return empty, 0, total
    df = spark.read.parquet(*keep).filter(
        (F.col(col) >= lo) & (F.col(col) <= hi)
    )
    return df, len(keep), total


def _resolve_manifest_file(base_dir: str, f: str) -> str:
    """Manifest file entries are basenames resolved against the data
    directory (relocation- and staging-rename-proof); absolute entries
    (legacy manifests) pass through unchanged."""
    import os

    return f if ("://" in f or os.path.isabs(f)) else os.path.join(base_dir, f)


def dataset_fingerprint(
    df: DataFrame, cols: Sequence[str] | None = None, label: str = "dataset"
) -> DataFrame:
    """Order-free content digest of a dataset: row count, bit-XOR and
    modular sum of a 60-bit md5 row hash — the cache-key /
    reproducibility primitive of a data pipeline (did this input
    change? are these two copies byte-equivalent? which shard
    diverged?). XOR and sum are both commutative/associative, so the
    digest is a pure function of the row MULTISET — identical across
    partitionings, engines, and shuffles — and the pair (xor, sum)
    catches what either alone misses (xor cancels duplicate pairs;
    sum is insensitive to a value appearing in two different rows).

    One map-side-combined aggregate over the scan: no shuffle beyond
    the 1-row combine. Columns must be cast-stable types (ints,
    strings, bools, dates): float/timestamp string forms differ
    between engines — pre-format those explicitly (round(…,6) etc.)
    before fingerprinting. NULL encodes as chr(30) (never a legal
    rendering of a non-null value of a cast-stable type).
    """
    use = list(cols) if cols is not None else list(df.columns)
    agg = df.select(row_hash(use).alias("_h")).agg(
        *fingerprint_metrics(F.col("_h"))
    )
    return agg.select(F.lit(label).alias("dataset"), "*")


def row_hash(cols: Sequence[str]) -> Column:
    """The 60-bit md5 row hash :func:`dataset_fingerprint` digests."""
    from .sketch import _hash60

    parts = [
        F.coalesce(F.col(c).cast("string"), F.lit("\x1e")) for c in cols
    ]
    return _hash60(F.concat_ws("\x1f", *parts))


def fingerprint_metrics(h: Column) -> list[Column]:
    """The digest's three aggregates over the row hash ``h``: row
    count, bit-XOR and decimal sum mod 2^60. Shared by
    :func:`dataset_fingerprint` and by writes that observe their
    digest while they run (``DataFrame.observe``)."""
    return [
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.bit_xor(h).cast("long").alias("xor_hash"),
        (F.sum(h.cast("decimal(38,0)")) % F.lit(1152921504606846976))
        .cast("long")
        .alias("sum_hash_mod"),
    ]


# ---------------------------------------------------------------------------
# Versioned snapshots: commit log + time travel + rollback (round 8)
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
    import os

    cdir = os.path.join(table_path, "_commits")
    if not os.path.isdir(cdir):
        return 0
    store = get_log_store()
    m = max(_read_hw(cdir), snapshot_version(table_path), 0)
    # the hint may itself name a record that was never written (it is
    # only bumped AFTER a put, so normally not) — validate downward
    # once, then probe upward to the true high-water
    if m > 0 and not store.has_record(cdir, f"{m}.json"):
        vs = [int(f.split(".")[0]) for f in store.list_records(cdir)]
        return max(vs) if vs else 0
    while store.has_record(cdir, f"{m + 1}.json"):
        m += 1
    return m


def _read_hw(cdir: str) -> int:
    import os

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
    import os

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
    import os

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
    import os

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


#: Lineage-checkpoint cadence: every K-th commit folds its whole
#: parent chain into one `_commits/_ckpt_{n}.json`, so lineage walks
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


#: sentinel: no checkpoint exists at the probed version
_NO_CKPT = object()


def _ckpt_resolve_ts(kdir: str, v: int, probe: float):
    """Timestamp resolve THROUGH the checkpoint at version ``v``:
    the newest chain version whose ts <= ``probe``, or None when the
    whole checkpointed chain is newer than the probe, or the
    ``_NO_CKPT`` sentinel when no checkpoint exists at ``v``.

    This is where the parquet representation earns its keep at
    10⁵–10⁶ versions: entries are newest-first, so ts is
    non-increasing, and row-group statistics prune the scan to ONE
    group (written at 10k rows/group) — the resolve reads stats plus
    ~10k entries instead of parsing the whole 3 MB JSON chain
    (measured: 85 ms → ~8 ms at 10⁵ versions, SCALE.md round 11).
    The JSON twin scans its parsed list — same answer, full parse."""
    import os

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
                        return int(vv)
            return None
        except (OSError, ValueError, KeyError, ImportError):
            pass  # fall through: treat like a JSON/absent checkpoint
    chain = _read_lineage_ckpt(kdir, v)
    if chain is None:
        return _NO_CKPT
    for e in chain:
        ts = e.get("ts")
        if ts is not None and float(ts) <= probe:
            return int(e["v"])
    return None


def _read_lineage_ckpt(kdir: str, v: int) -> list[dict] | None:
    """The checkpoint's folded chain at version ``v`` (newest-first),
    whichever representation it was written in, or None. Shared by
    the checkpoint writer's splice and ManagedTable._lineage."""
    import json
    import os

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
    import json
    import os

    if "parent" not in extra:
        return extra
    tid = extra.get("txn_id")
    hw = -1 if tid is not None else int(extra.get("txn", -1))
    hw_by: dict = {}
    p = os.path.join(table_path, "_commits", f"{int(extra['parent'])}.json")
    if os.path.isfile(p):
        with open(p) as f:
            rec = json.load(f)
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


def _maybe_write_lineage_ckpt(table_path: str, n: int) -> None:
    """After publishing commit ``n``: if n is on the checkpoint
    cadence, fold its parent chain into `_ckpts/_ckpt_{n}.json` —
    a newest-first list of minimal {v, ts, txn?} entries. Built by
    splicing the nearest ancestor checkpoint (so construction is
    O(cadence), not O(versions)) and published with tmp+replace.
    Lives in its own directory so `_commits/` keeps holding only
    numeric version records. Best-effort by design: any failure
    leaves the per-version-record walk intact."""
    import json
    import os

    if n % SNAPSHOT_CKPT_EVERY != 0:
        return
    cdir = os.path.join(table_path, "_commits")
    kdir = os.path.join(table_path, "_ckpts")
    entries: list[dict] = []
    cur = n
    try:
        os.makedirs(kdir, exist_ok=True)
        while cur >= 1:
            if cur != n:
                spliced = _read_lineage_ckpt(kdir, cur)
                if spliced is not None:
                    entries.extend(spliced)
                    break
            p = os.path.join(cdir, f"{cur}.json")
            if not os.path.isfile(p):
                break
            with open(p) as f:
                rec = json.load(f)
            e = {"v": cur, "ts": rec.get("ts")}
            if "txn" in rec:
                e["txn"] = rec["txn"]
            if "txn_id" in rec:
                e["txn_id"] = rec["txn_id"]
            entries.append(e)
            nxt = int(rec.get("parent", cur - 1))
            if nxt >= cur:
                break
            cur = nxt
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
            # group instead of the whole chain (_ckpt_resolve_ts)
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
    import json
    import os
    import shutil
    import uuid

    store = get_log_store()
    cdir = os.path.join(table_path, "_commits")
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
    import os

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
    import json
    import os

    vdir = os.path.join(table_path, f"v{v}")
    if os.path.isdir(vdir):
        return vdir
    cdir = os.path.join(table_path, "_commits")
    rp = os.path.join(cdir, f"{v}.json")
    # probe through the LogStore, not the raw filesystem (advice r13,
    # low): a commit claimed in a coordination adapter but not yet
    # materialized as a record file (crash between claim and write)
    # IS a commit — has_record repairs the file so the read below
    # sees it
    if not get_log_store().has_record(cdir, f"{v}.json"):
        return None
    try:
        with open(rp) as f:
            staged = json.load(f).get("staged")
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
    import os
    import re

    m = re.match(r"^v(\d+)(/.*)?$", rel)
    if m:
        d = dataset_dir(table_path, int(m.group(1)))
        if d is not None:
            return d + (m.group(2) or "")
    return os.path.join(table_path, rel)


def _abandoned_dir(table_path: str) -> str:
    import os

    return os.path.join(table_path, "_abandoned")


def abandoned_records(table_path: str) -> set[int]:
    """Record numbers rolled off the chain by ``snapshot_rollback``
    (the ledger that makes abandoned-vs-in-flight decidable at op
    entry — see ``resolve_entry``). Union of all ledger files:
    append-only, uniquely named, so concurrent rollbacks never race
    on a shared file."""
    import json
    import os

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
    import json
    import os
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
    import json
    import os
    import time

    store = get_log_store()
    cdir = os.path.join(table_path, "_commits")
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
        chain: list[int] = []
        cur = max(pending)
        ok = True
        while cur > v:
            rp = os.path.join(cdir, f"{cur}.json")
            # store probe (advice r13, low): repairs a claimed-but-
            # unmaterialized record before the file read below
            if not store.has_record(cdir, f"{cur}.json"):
                ok = False
                break
            with open(rp) as f:
                rec = json.load(f)
            chain.append(cur)
            nxt = int(rec.get("parent", cur - 1))
            if nxt >= cur:
                ok = False
                break
            cur = nxt
        if ok and cur == v and set(pending).issubset(chain):
            # monotone: a concurrent committer may have published a
            # NEWER head while this walk ran — never regress to the
            # gap head this entry computed (advice r13, low)
            store.publish_pointer_monotone(table_path, max(pending))
            continue  # re-read: pointer now covers the gap
        time.sleep(0.05)  # an in-flight writer/rollback — let it land
    raise CommitConflict(
        f"cannot classify commit records above the published pointer at "
        f"{table_path} (pointer v{snapshot_version(table_path)}, records "
        f"to v{m}) — a rollback may be racing a writer; retry the op"
    )


def snapshot_read(spark, table_path: str, version: int | None = None) -> DataFrame:
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
    import json
    import os

    if dataset_dir(table_path, version) is None:
        raise ValueError(f"snapshot v{version} does not exist at {table_path}")
    cdir = os.path.join(table_path, "_commits")
    cur = snapshot_version(table_path)
    off_chain: list[int] = []
    while cur > version:
        off_chain.append(cur)
        rp = os.path.join(cdir, f"{cur}.json")
        if not os.path.isfile(rp):
            break
        with open(rp) as f:
            nxt = int(json.load(f).get("parent", cur - 1))
        if nxt >= cur:
            break
        cur = nxt
    mark_abandoned(table_path, off_chain)
    get_log_store().publish_pointer(table_path, version)


def snapshot_vacuum(
    table_path: str,
    keep_last: int = 2,
    protect: set[int] | None = None,
    dry_run: bool = False,
) -> list[int]:
    """Retention — the explicitly DESTRUCTIVE step commit/rollback
    never perform: delete snapshot data older than the last
    ``keep_last`` versions, never touching (a) the currently published
    version, (b) anything newer than it (a rollback target must stay
    rollback-able forward), (c) the commit log (history metadata
    survives vacuum; time-traveling into a vacuumed version raises
    the loud snapshot_read error, not an empty read), or (d) any
    version in ``protect`` — the hook reference commits (deletion
    vectors) use to pin the base snapshots their sidecars point into
    (ManagedTable.vacuum computes that set). Returns the versions
    actually removed — or, with ``dry_run=True``, the versions that
    WOULD be removed, touching nothing (the audit a destructive step
    owes its operator)."""
    import os
    import shutil

    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    cdir = os.path.join(table_path, "_commits")
    if not os.path.isdir(cdir):
        return []
    versions = sorted(
        int(f.split(".")[0]) for f in os.listdir(cdir) if f.endswith(".json")
    )
    current = snapshot_version(table_path)
    protect_set = set(protect or ())
    protect = (
        set(versions[-keep_last:])
        | {v for v in versions if v >= current}
        | protect_set
    )
    removed = []
    for v in versions:
        if v in protect:
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

    Returns the paths removed. Called from snapshot_vacuum (real
    runs), also callable directly for maintenance."""
    import json
    import os
    import shutil
    import time

    cdir = os.path.join(table_path, "_commits")
    referenced: set[str] = set()
    if os.path.isdir(cdir):
        # the record census MUST go through the LogStore (advice r13,
        # low): a commit claimed in a coordination adapter whose
        # record file never materialized (crash between claim and
        # write) still references its staged dir — list_records
        # repairs those records, so a raw os.listdir here would have
        # let the vacuum delete COMMITTED data after the grace period
        for f in get_log_store().list_records(cdir):
            if not f.endswith(".json") or not f[0].isdigit():
                continue
            v = int(f.split(".")[0])
            if os.path.isdir(os.path.join(table_path, f"v{v}")):
                continue  # renamed: its staged name is historical
            try:
                with open(os.path.join(cdir, f)) as fh:
                    staged = json.load(fh).get("staged")
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


def snapshot_history(spark, table_path: str) -> DataFrame:
    """The commit log as a DataFrame: (version, dataset, n_rows,
    xor_hash, sum_hash_mod) — what `DESCRIBE HISTORY` is to Delta."""
    import json
    import os

    rows = []
    cdir = os.path.join(table_path, "_commits")
    if os.path.isdir(cdir):
        names = [
            f for f in os.listdir(cdir)
            if f.endswith(".json") and f[0].isdigit()  # skip _hw etc.
        ]
        for fn in sorted(names, key=lambda s: int(s.split(".")[0])):
            with open(os.path.join(cdir, fn)) as f:
                rows.append(json.load(f))
    return spark.createDataFrame(
        rows or [],
        "version long, dataset string, n_rows long, xor_hash long, sum_hash_mod long",
    )


# ---------------------------------------------------------------------------
# File-level bloom manifests: point-lookup skipping on UNSORTED data
# ---------------------------------------------------------------------------


def _bloom_positions_py(value, m: int, k: int) -> list[int]:
    """Driver-side replica of sketch._bloom_position_cols — ONE
    definition of the Kirsch-Mitzenmacher positions per engine side,
    and the two must agree bit-for-bit (same md5 rendering, same
    hex-split, same odd-forced stride). Valid for the cast-stable
    types whose Spark CAST(x AS STRING) equals Python str (ints,
    strings)."""
    import hashlib as _hl

    hx = _hl.md5(f"bloom:{value}".encode()).hexdigest()
    h1 = int(hx[0:15], 16)
    h2 = int(hx[16:31], 16) | 1
    return [(h1 + r * h2) % m for r in range(k)]


def write_with_bloom(
    df: DataFrame, path: str, col: str, m: int = 131072, k: int = 5
) -> dict:
    """Write parquet plus a PER-FILE bloom manifest over ``col`` —
    the point-lookup data-skipping layer for columns the layout is
    NOT sorted or clustered on (where min/max zone maps span the
    whole domain and prune nothing — the gap write_with_stats leaves
    open). Per output file: the distinct set bit positions of every
    value, collected in one pass grouped by input_file_name, stored
    as position lists in ``<path>/_bloom.json``.

    Sizing: FP rate ≈ (1 − e^(−k·n/m))^k per file with n distinct
    values — keep m ≳ 16·n (k=5 → ~5e-4). JSON position lists are the
    fixture-scale representation; a production manifest packs the
    same bits into m/8 bytes per file (Parquet's own BloomFilter
    header layout), which this layer would adopt unchanged."""
    import json
    import os

    from .sketch import _bloom_positions

    df.write.mode("overwrite").parquet(path)
    return build_bloom_manifest(df.sparkSession, path, col, m, k)


def build_bloom_manifest(spark, path: str, col: str, m: int, k: int) -> dict:
    """Build ``<path>/_bloom.json`` over an ALREADY-WRITTEN parquet
    directory (one pass grouped by input_file_name) — the manifest
    half of :func:`write_with_bloom`, callable on its own so a
    versioned-table commit can add bloom skipping to data it just
    landed (ManagedTable's point-lookup layer)."""
    import json
    import os

    from .sketch import _bloom_positions

    back = spark.read.parquet(path)
    # basenames, like write_with_stats — staging-rename/relocation-proof
    rows = (
        back.select(
            F.element_at(F.split(F.input_file_name(), "/"), -1).alias("file"),
            F.explode(_bloom_positions(col, m, k)).alias("pos"),
        )
        .groupBy("file")
        .agg(F.sort_array(F.collect_set("pos")).alias("positions"))
        .collect()
    )
    manifest = {
        "col": col,
        "m": m,
        "k": k,
        "files": {r["file"]: list(r["positions"]) for r in rows},
    }
    with open(os.path.join(path, "_bloom.json"), "w") as f:
        json.dump(manifest, f)
    return manifest


def read_with_bloom_skipping(
    spark, path: str, col: str, value
) -> tuple[DataFrame, int, int]:
    """Bloom-pruned point lookup: open only files whose per-file bloom
    contains ALL k positions of ``value``, then apply the exact
    equality filter to the survivors. No false negatives ever (a
    containing file always has all k bits set); false positives cost
    one extra file read, never a wrong row — pruning is conservative
    and the residual is exact, the same contract as
    read_with_skipping."""
    import json
    import os

    with open(os.path.join(path, "_bloom.json")) as f:
        manifest = json.load(f)
    if manifest["col"] != col:
        raise ValueError(
            f"bloom manifest covers {manifest['col']!r}, not {col!r}"
        )
    # one probe rule for BOTH bloom representations (inline JSON /
    # distributed parquet — operators/manifest.py)
    from .manifest import bloom_survivors

    keep, total = bloom_survivors(spark, path, path, value)
    if not keep:
        empty = spark.read.parquet(path).filter(F.lit(False))
        return empty, 0, total
    df = spark.read.parquet(*keep).filter(F.col(col) == value)
    return df, len(keep), total
