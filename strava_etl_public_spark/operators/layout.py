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
