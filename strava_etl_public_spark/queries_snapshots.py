"""Snapshot / storage-layout queries: zone-map / bloom /
dynamic-partition scan pruning, minor compaction, type widening, the
pushdown batch DataSource and the compact→vacuum reclaim loop.

Split from queries_tables.py (round 10, verdict #5 file-size
discipline) at the scan-pruning/layout vs lakehouse-DML seam:
registrations, names, and oracle SQL are byte-unchanged — the
aggregator queries_ext.py imports this module right before
queries_tables, and driver-query iteration order is fixed by
queries.QUERY_ORDER regardless of module layout. The
commit-protocol faces (logstore-sqlite cycle, lineage checkpoints,
publish repair) moved on to queries_protocol.py in the round-13
re-split at the snapshot/publish-repair seam.
"""

from __future__ import annotations

import uuid  # noqa: F401  (shared header across family modules)

from pyspark.sql import DataFrame, SparkSession  # noqa: F401
from pyspark.sql import Window as W  # noqa: F401
from pyspark.sql import functions as F  # noqa: F401

from .functions import epoch as ep  # noqa: F401
from .io import load  # noqa: F401
from .session import ensure_harness_conf  # noqa: F401
from .queries_common import register, register_extra, streams  # noqa: F401


_EV_FP_COLS = ["event_id", "user_id", "event_type"]


@register_extra(
    "x_scan_zonemap_skip",
    oracle=f"""
WITH filt AS (
  SELECT event_id, user_id, event_type FROM events
  WHERE event_id BETWEEN 100 AND 299
),
fp AS (
  SELECT CAST(count(*) AS BIGINT) AS n_rows,
         CAST(bit_xor(h) AS BIGINT) AS xor_hash,
         CAST(sum(h) % 1152921504606846976 AS BIGINT) AS sum_hash_mod
  FROM (
    SELECT CAST(concat('0x', substr(md5(concat_ws(chr(31),
               coalesce(CAST(event_id AS VARCHAR), chr(30)),
               coalesce(CAST(user_id AS VARCHAR), chr(30)),
               coalesce(CAST(event_type AS VARCHAR), chr(30)))),
               1, 15)) AS BIGINT) AS h
    FROM filt
  )
)
SELECT 'zonemap_scan' AS dataset, n_rows, xor_hash, sum_hash_mod,
       TRUE AS files_skipped
FROM fp
""",
)
def x_scan_zonemap_skip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest-level DATA SKIPPING end-to-end (the Iceberg/Delta
    zone-map layer, verified): range-cluster events on event_id into
    16 files, write with a per-file min/max manifest
    (layout.write_with_stats), then serve `event_id BETWEEN 100 AND
    299` through layout.read_with_skipping — files whose zones miss
    the range are never opened; survivors get the exact residual
    filter. The digest of the skipping scan's result must equal the
    oracle's digest of the plain filtered table (pruning must be
    conservative AND the residual exact); `files_skipped` is measured
    from the real manifest prune count, so a layout that fails to
    prune (or a manifest that lies) fails the gate. At 100 TB this is
    the difference between opening 3 files and opening 40,000."""
    ensure_harness_conf(spark)
    import shutil
    import tempfile

    from .operators.layout import (
        dataset_fingerprint,
        read_with_skipping,
        write_with_stats,
    )

    ev = load(spark, sf_dir, "events").select(*_EV_FP_COLS)
    path = tempfile.mkdtemp(prefix="zonemap_")
    try:
        clustered = ev.repartitionByRange(16, "event_id").sortWithinPartitions(
            "event_id"
        )
        write_with_stats(clustered, path, ["event_id"])
        out, files_read, files_total = read_with_skipping(
            spark, path, "event_id", 100, 299
        )
        fp = dataset_fingerprint(out, _EV_FP_COLS, label="zonemap_scan")
        return fp.withColumn(
            "files_skipped", F.lit(bool(files_read < files_total))
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(path, ignore_errors=True)


@register_extra(
    "x_scan_dpp_prune",
    oracle="""
WITH top2 AS (
  SELECT event_type
  FROM (SELECT event_type, count(*) AS c FROM events GROUP BY event_type)
  QUALIFY row_number() OVER (ORDER BY c DESC, event_type) <= 2
)
SELECT e.event_type, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(e.user_id) AS BIGINT) AS sum_users
FROM events e JOIN top2 USING (event_type)
GROUP BY e.event_type
""",
)
def x_scan_dpp_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC partition pruning end-to-end — the third scan-skipping
    layer, completing the family (hive static pruning → zone-map
    manifest skipping → DPP): stage events hive-partitioned by
    event_type, then join against a dim whose filter (top-2 types by
    count) is NOT statically derivable — Spark must broadcast the dim
    result into the fact scan as a runtime partition filter, so
    non-matching partition DIRECTORIES are never listed or opened.
    tests/test_layout.py pins `dynamicpruningexpression` inside the
    scan's PartitionFilters (the plan-shape proof); this gate proves
    the pruned read returns exactly the oracle's join. At 100 TB with
    date-partitioned facts this is the difference between scanning 3
    days and 5 years when the date set comes out of a subquery."""
    ensure_harness_conf(spark)
    import shutil
    import tempfile

    from .operators.layout import hive_partitioned_write

    ev = load(spark, sf_dir, "events").select("event_id", "user_id", "event_type")
    path = tempfile.mkdtemp(prefix="dpp_")
    try:
        hive_partitioned_write(ev, path, ["event_type"])
        part = spark.read.parquet(path)
        dim = (
            ev.groupBy("event_type")
            .count()
            .withColumn(
                "rk",
                F.row_number().over(
                    W.orderBy(F.desc("count"), F.asc("event_type"))
                ),
            )
            .filter(F.col("rk") <= 2)
            .select("event_type")
        )
        out = (
            part.join(dim, "event_type")
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n"),
                F.sum("user_id").cast("long").alias("sum_users"),
            )
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(path, ignore_errors=True)


@register_extra(
    "x_scan_bloom_skip",
    oracle="""
WITH filt AS (
  SELECT event_id, user_id, event_type FROM events WHERE event_id = 100
),
fp AS (
  SELECT CAST(count(*) AS BIGINT) AS n_rows,
         CAST(coalesce(bit_xor(h), 0) AS BIGINT) AS xor_hash,
         CAST(coalesce(sum(h) % 1152921504606846976, 0) AS BIGINT) AS sum_hash_mod
  FROM (
    SELECT CAST(concat('0x', substr(md5(concat_ws(chr(31),
               coalesce(CAST(event_id AS VARCHAR), chr(30)),
               coalesce(CAST(user_id AS VARCHAR), chr(30)),
               coalesce(CAST(event_type AS VARCHAR), chr(30)))),
               1, 15)) AS BIGINT) AS h
    FROM filt
  )
)
SELECT 'bloom_scan' AS dataset, n_rows, xor_hash, sum_hash_mod,
       TRUE AS files_skipped
FROM fp
""",
)
def x_scan_bloom_skip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BLOOM-manifest point-lookup skipping — the data-skipping layer
    for columns the layout is NOT clustered on, where zone maps prune
    nothing (every file's [min,max] spans the whole domain): stage
    events in 16 hash-distributed files (deliberately unsorted on
    event_id), write the per-file bloom manifest
    (layout.write_with_bloom), then serve `event_id = 100` through
    layout.read_with_bloom_skipping — only files whose bloom contains
    all k positions are opened (no false negatives; a false positive
    costs one extra read, never a wrong row). The digest of the
    skipping lookup must equal the oracle's digest of the plain
    filter; `files_skipped` is measured from the real prune count.
    Together with x_scan_zonemap_skip (range predicates on clustered
    layouts) and x_scan_dpp_prune (runtime partition filters) this
    completes the three-layer skipping story a 100 TB table needs."""
    ensure_harness_conf(spark)
    import shutil
    import tempfile

    from .operators.layout import (
        dataset_fingerprint,
        read_with_bloom_skipping,
        write_with_bloom,
    )

    ev = load(spark, sf_dir, "events").select(*_EV_FP_COLS)
    path = tempfile.mkdtemp(prefix="bloomskip_")
    try:
        staged = ev.repartition(16, "user_id")  # unsorted in event_id
        write_with_bloom(staged, path, "event_id")
        out, files_read, files_total = read_with_bloom_skipping(
            spark, path, "event_id", 100
        )
        fp = dataset_fingerprint(out, _EV_FP_COLS, label="bloom_scan")
        return fp.withColumn(
            "files_skipped", F.lit(bool(files_read < files_total))
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(path, ignore_errors=True)


_CMP_FP_RENDER = ", ".join(
    f"coalesce(CAST({c} AS VARCHAR), chr(30))"
    for c in ["event_id", "user_id", "event_type", "es", "vmic"]
)


@register(
    "x_table_compact",
    oracle=f"""
WITH base AS (
  SELECT event_id, user_id, event_type,
         CAST(epoch_ns(ts) // 1000000000 AS BIGINT) AS es,
         CAST(floor(value * 1000000) AS BIGINT) AS vmic
  FROM events
),
alive AS (
  SELECT * FROM base WHERE user_id % 3 IS DISTINCT FROM 0
),
final AS (
  SELECT * FROM alive
  UNION ALL
  SELECT * FROM (VALUES
    (CAST(9000000001 AS BIGINT), CAST(1 AS BIGINT), 'synthetic',
     CAST(32503680000 AS BIGINT), CAST(1000000 AS BIGINT)),
    (CAST(9000000002 AS BIGINT), CAST(2 AS BIGINT), 'synthetic',
     CAST(32503680001 AS BIGINT), CAST(2000000 AS BIGINT)),
    (CAST(9000000003 AS BIGINT), CAST(3 AS BIGINT), 'synthetic',
     CAST(32503680002 AS BIGINT), CAST(3000000 AS BIGINT))
  ) AS t(event_id, user_id, event_type, es, vmic)
),
fp AS (
  SELECT CAST(count(*) AS BIGINT) AS n_rows,
         CAST(bit_xor(h) AS BIGINT) AS xor_hash,
         CAST(sum(h) % 1152921504606846976 AS BIGINT) AS sum_hash_mod
  FROM (SELECT CAST(concat('0x', substr(md5(concat_ws(chr(31), {_CMP_FP_RENDER})),
                                        1, 15)) AS BIGINT) AS h
        FROM final)
),
bounds AS (SELECT min(es) AS lo FROM final),
scan AS (SELECT CAST(count(*) AS BIGINT) AS scan_rows
         FROM final, bounds WHERE es BETWEEN lo AND lo + 86400)
SELECT 'compact_events' AS dataset, fp.n_rows, fp.xor_hash, fp.sum_hash_mod,
       TRUE AS compact_content_identical, TRUE AS untouched_files_intact,
       TRUE AS dead_list_relative, TRUE AS residual_dv_clean,
       TRUE AS append_chain_folded, scan.scan_rows,
       TRUE AS scan_pruned_exact, TRUE AS history_readable
FROM fp, scan
""",
)
def x_table_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MINOR COMPACTION (ManagedTable.compact) — the O(changed-bytes)
    maintenance step between merge-on-read DML and a full OPTIMIZE:
    after a 33%-dead DELETE and three tiny APPENDs, compact(dead_frac
    =0.2, small_bytes=16KiB) rewrites ONLY the threshold-crossing
    files' survivors into one fresh ``_upd`` dir, excludes the victims
    through the version's ``dead`` file list, folds the fully-consumed
    append dirs off the chain, and publishes a commit whose digest is
    the parent's VERBATIM (content-identical by construction, digest-
    verified before the record is attempted).

    Invariants packed into the row (each recomputed live, never
    assumed): the compacted read fingerprints equal to the
    pre-compaction head; v1's files are untouched on disk
    (name+size listing equality — history immutable); the dead list is
    table-relative (relocation-safe, the DV storage convention); no
    residual DV entry addresses a compacted-away file; the appends
    chain folded to exactly ["self"]; the manifest-pruned day-window
    scan on the compacted version equals the exact filter; v1 and the
    pre-compaction DV version still time-travel exactly.

    Reference parity: the reference's maintenance story is a
    whole-table rewrite per sync (main.py read-modify-write);
    compact() is that job's 100 TB form — touch 0.5%% of the table,
    not all of it. Oracle: survivors ∪ appended rows recomputed
    relationally with a NULL-safe predicate complement."""
    ensure_harness_conf(spark)
    import json as _json
    import os
    import shutil
    import tempfile

    from .operators.layout import dataset_fingerprint
    from .operators.table import ManagedTable

    cols = ["event_id", "user_id", "event_type", "es", "vmic"]
    ev = load(spark, sf_dir, "events")
    base = ev.select(
        "event_id",
        "user_id",
        "event_type",
        ep.epoch_s(ev, "ts").cast("long").alias("es"),
        F.floor(F.col("value") * 1000000).cast("long").alias("vmic"),
    )
    root = tempfile.mkdtemp(prefix="compact_table_")
    path = os.path.join(root, "t")

    def _part_files(p: str):
        return sorted(
            (f, os.path.getsize(os.path.join(p, f)))
            for f in os.listdir(p)
            if f.startswith("part-")
        )

    try:
        t = ManagedTable.create(
            base.repartitionByRange(16, "es").sortWithinPartitions("es"),
            path,
            key="event_id",
            stat_cols=["es"],
        )
        v1_files = _part_files(os.path.join(path, "v1"))
        v2 = t.delete(F.col("user_id") % 3 == 0)
        for i in range(3):
            t.append(
                spark.createDataFrame(
                    [
                        (
                            9000000001 + i,
                            1 + i,
                            "synthetic",
                            32503680000 + i,
                            (1 + i) * 1000000,
                        )
                    ],
                    "event_id long, user_id long, event_type string, "
                    "es long, vmic long",
                )
            )
        pre = dataset_fingerprint(t.read(), cols).collect()
        vc = t.compact(dead_frac=0.2, small_bytes=16 * 1024)
        assert vc is not None, "compaction found no victims"
        content_identical = (
            dataset_fingerprint(t.read(version=vc), cols).collect() == pre
        )
        untouched = _part_files(os.path.join(path, "v1")) == v1_files
        with open(os.path.join(path, f"v{vc}", "_dv.json")) as f:
            ref = _json.load(f)
        dead = ref.get("dead", [])
        dead_rel = bool(dead) and all(not e.startswith("/") for e in dead)
        dv_rows = spark.read.parquet(
            os.path.join(path, f"v{vc}", "_dv")
        ).collect()
        residual_clean = not [r for r in dv_rows if r["_file"] in set(dead)]
        chain_folded = ref.get("appends") == ["self"]

        lo = t.read().agg(F.min("es")).collect()[0][0]
        sdf, files_read, files_total = t.scan("es", lo, lo + 86400)
        scan_rows = sdf.count()
        exact = t.read().filter(F.col("es").between(lo, lo + 86400)).count()
        scan_ok = scan_rows == exact

        hist_ok = (
            dataset_fingerprint(t.read(version=1), cols).collect()
            == dataset_fingerprint(base, cols).collect()
            and t.read(version=v2).count() == t.read(version=vc).count() - 3
        )
        fp = dataset_fingerprint(t.read(), cols, label="compact_events")
        return fp.withColumns(
            {
                "compact_content_identical": F.lit(bool(content_identical)),
                "untouched_files_intact": F.lit(bool(untouched)),
                "dead_list_relative": F.lit(bool(dead_rel)),
                "residual_dv_clean": F.lit(bool(residual_clean)),
                "append_chain_folded": F.lit(bool(chain_folded)),
                "scan_rows": F.lit(int(scan_rows)).cast("long"),
                "scan_pruned_exact": F.lit(bool(scan_ok)),
                "history_readable": F.lit(bool(hist_ok)),
            }
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register(
    "x_table_widen",
    oracle="""
WITH base AS (
  SELECT CAST(event_id AS BIGINT) AS event_id,
         CAST(user_id AS BIGINT) AS user_id,
         CAST(floor(value * 1000) AS BIGINT) AS vmil
  FROM events
),
with_big AS (
  SELECT * FROM base
  UNION ALL
  SELECT CAST(9000000001 AS BIGINT), CAST(1 AS BIGINT),
         CAST(3000000000000 AS BIGINT)
),
after_update AS (
  SELECT event_id, user_id,
         CASE WHEN user_id % 9 = 4 THEN vmil + 4000000000000 ELSE vmil END
           AS vmil
  FROM with_big
)
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(vmil) AS BIGINT) AS sum_vmil,
       CAST(max(vmil) AS BIGINT) AS max_vmil,
       TRUE AS widen_write_free, TRUE AS digest_inherited,
       TRUE AS narrow_before_widen, TRUE AS cdc_zero_change,
       TRUE AS optimize_materializes, TRUE AS scan_exact
FROM after_update
""",
)
def x_table_widen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALTER COLUMN TYPE WIDENING as pure metadata
    (ManagedTable.widen_column, operators/table_schema.py) — the
    overflow story a 100 TB table needs: an ``int`` measure column
    overflows, and the fix must not rewrite a byte. The run creates
    the table with INT columns, widens vmil int→bigint (zero data
    files in the commit — checked), appends a row beyond int range,
    updates a slice to values beyond int range (merge-on-read DML
    through the widened view, mixed narrow/wide files in one
    version), and OPTIMIZEs (marker dropped, files physically wide —
    checked via the parquet footer).

    Invariants packed into the row: the widen version dir holds no
    data files; the widen commit's digest equals its parent's
    verbatim (the int chain is render-stable, so inheritance is
    exact, not a lie); time travel before the widen serves INT;
    CDC across the widen boundary is zero change; post-OPTIMIZE
    footer type is int64; the zone-map scan on the widened stat
    column equals the exact filter. Oracle: the same arithmetic in
    BIGINT throughout (DuckDB needs no widening — the point is that
    Spark's narrow files reach the same values)."""
    ensure_harness_conf(spark)
    import json as _json
    import os
    import shutil
    import tempfile

    import pyarrow.parquet as _pq

    from .operators.table import ManagedTable

    ev = load(spark, sf_dir, "events")
    base = ev.select(
        F.col("event_id").cast("int").alias("event_id"),
        F.col("user_id").cast("int").alias("user_id"),
        F.floor(F.col("value") * 1000).cast("int").alias("vmil"),
    )
    root = tempfile.mkdtemp(prefix="widen_table_")
    path = os.path.join(root, "t")
    try:
        t = ManagedTable.create(
            base.repartitionByRange(8, "vmil").sortWithinPartitions("vmil"),
            path,
            key="event_id",
            stat_cols=["vmil"],
        )
        v1 = t.version()
        vw = t.widen_column("vmil", "long")
        t.widen_column("event_id", "bigint")
        t.widen_column("user_id", "bigint")
        vdir = os.path.join(path, f"v{vw}")
        write_free = not [
            f for f in os.listdir(vdir) if f.startswith("part-")
        ]
        with open(os.path.join(path, "_commits", f"{vw}.json")) as f:
            rec = _json.load(f)
        with open(os.path.join(path, "_commits", f"{vw - 1}.json")) as f:
            parent = _json.load(f)
        digest_inherited = (
            rec["xor_hash"] == parent["xor_hash"]
            and rec["n_rows"] == parent["n_rows"]
        )
        narrow_before = (
            t.read(version=v1).schema["vmil"].dataType.simpleString()
            == "int"
        )
        cdc_zero = t.changes_signed(v1, vw).count() == 0

        t.append(
            spark.createDataFrame(
                [(9000000001, 1, 3000000000000)],
                "event_id long, user_id long, vmil long",
            )
        )
        t.update(
            F.col("user_id") % 9 == 4,
            {"vmil": F.col("vmil") + 4000000000000},
        )
        vo = t.optimize()
        f0 = next(
            f
            for f in os.listdir(os.path.join(path, f"v{vo}"))
            if f.startswith("part-") and f.endswith(".parquet")
        )
        sch = _pq.ParquetFile(os.path.join(path, f"v{vo}", f0)).schema_arrow
        materialized = str(sch.field("vmil").type) == "int64" and (
            "widened" not in _json.load(
                open(os.path.join(path, "_commits", f"{vo}.json"))
            )
        )
        sdf, fr, tot = t.scan("vmil", 0, 10_000)
        scan_exact = (
            sdf.count()
            == t.read().filter(F.col("vmil").between(0, 10_000)).count()
        )
        return (
            t.read()
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.sum("vmil").cast("long").alias("sum_vmil"),
                F.max("vmil").cast("long").alias("max_vmil"),
            )
            .withColumns(
                {
                    "widen_write_free": F.lit(bool(write_free)),
                    "digest_inherited": F.lit(bool(digest_inherited)),
                    "narrow_before_widen": F.lit(bool(narrow_before)),
                    "cdc_zero_change": F.lit(bool(cdc_zero)),
                    "optimize_materializes": F.lit(bool(materialized)),
                    "scan_exact": F.lit(bool(scan_exact)),
                }
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register(
    "x_table_source_pushdown",
    oracle="""
WITH base AS (
  SELECT event_id, user_id,
         CAST(epoch_ns(ts) // 1000000000 AS BIGINT) AS es,
         CAST(floor(value * 1000000) AS BIGINT) AS vmic
  FROM events
),
alive AS (
  SELECT * FROM base WHERE user_id % 4 IS DISTINCT FROM 1
),
bounds AS (SELECT min(es) AS lo FROM alive),
win AS (
  SELECT a.* FROM alive a, bounds WHERE a.es BETWEEN lo AND lo + 86400
),
pt AS (
  SELECT CAST(count(*) AS BIGINT) AS pt_rows,
         CAST(coalesce(sum(vmic), 0) AS BIGINT) AS pt_vmic
  FROM alive WHERE event_id = (SELECT min(event_id) FROM alive)
)
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(vmic) AS BIGINT) AS sum_vmic,
       CAST(sum(user_id) AS BIGINT) AS sum_users,
       pt.pt_rows, pt.pt_vmic,
       TRUE AS range_pruned, TRUE AS bloom_pruned,
       TRUE AS equals_table_read
FROM win, pt GROUP BY pt.pt_rows, pt.pt_vmic
""",
)
def x_table_source_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The skipping layer wired into Catalyst itself:
    ``spark.read.format("managed_table")`` (sources/table_batch.py,
    the Spark-4 Python DataSource pushdown API) — the engine calls
    pushFilters with the query's predicates, the reader prunes FILES
    through the version's zone-map/bloom manifests, and each
    surviving file becomes one executor-side pyarrow partition with
    the DV anti-filtered positionally. Prune-only pushdown: every
    predicate returns to Spark for exact re-application, so the
    manifest can skip IO but never change an answer.

    The run range-clusters events on es (stats) with a bloom on
    event_id, DV-deletes a user slice, then answers a day-window
    aggregate and a point lookup THROUGH plain
    ``load().filter(...)`` DataFrame code. Invariants in-row: the
    window scan's partition count < the full file count (zone maps
    pruned), the point lookup's partition count < the full count
    (bloom pruned), and the source's unfiltered rows fingerprint-
    equal ManagedTable.read(). The oracle recomputes both answers
    relationally with the NULL-safe predicate complement."""
    ensure_harness_conf(spark)
    import os
    import shutil
    import tempfile

    from .operators.layout import dataset_fingerprint
    from .operators.table import ManagedTable
    from .sources.table_batch import register_table_source

    register_table_source(spark)
    ev = load(spark, sf_dir, "events")
    base = ev.select(
        "event_id",
        "user_id",
        ep.epoch_s(ev, "ts").cast("long").alias("es"),
        F.floor(F.col("value") * 1000000).cast("long").alias("vmic"),
    )
    root = tempfile.mkdtemp(prefix="src_push_")
    path = os.path.join(root, "t")
    try:
        t = ManagedTable.create(
            base.repartitionByRange(16, "es").sortWithinPartitions("es"),
            path,
            key="event_id",
            stat_cols=["es"],
            bloom_col="event_id",
        )
        t.delete(F.col("user_id") % 4 == 1)

        def src():
            return (
                spark.read.format("managed_table")
                .option("path", path)
                .load()
            )

        n_total = src().rdd.getNumPartitions()
        lo = t.read().agg(F.min("es")).collect()[0][0]
        win = src().filter(F.col("es").between(lo, lo + 86400))
        range_pruned = win.rdd.getNumPartitions() < n_total

        key0 = t.read().agg(F.min("event_id")).collect()[0][0]
        pt = src().filter(F.col("event_id") == key0)
        bloom_pruned = pt.rdd.getNumPartitions() < n_total
        pt_row = pt.agg(
            F.count(F.lit(1)).cast("long").alias("pt_rows"),
            F.coalesce(F.sum("vmic"), F.lit(0))
            .cast("long")
            .alias("pt_vmic"),
        ).collect()[0]

        cols = ["event_id", "user_id", "es", "vmic"]
        equals_read = (
            dataset_fingerprint(src().select(*cols)).collect()
            == dataset_fingerprint(t.read().select(*cols)).collect()
        )
        return (
            win.agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.sum("vmic").cast("long").alias("sum_vmic"),
                F.sum("user_id").cast("long").alias("sum_users"),
            )
            .withColumns(
                {
                    "pt_rows": F.lit(int(pt_row["pt_rows"])).cast("long"),
                    "pt_vmic": F.lit(int(pt_row["pt_vmic"])).cast("long"),
                    "range_pruned": F.lit(bool(range_pruned)),
                    "bloom_pruned": F.lit(bool(bloom_pruned)),
                    "equals_table_read": F.lit(bool(equals_read)),
                }
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register(
    "x_table_reclaim",
    oracle="""
WITH base AS (
  SELECT event_id, user_id,
         CAST(epoch_ns(ts) // 1000000000 AS BIGINT) AS es,
         CAST(floor(value * 1000000) AS BIGINT) AS vmic
  FROM events
),
bounds AS (SELECT min(es) AS lo, max(es) AS hi FROM base),
alive1 AS (
  SELECT b.* FROM base b, bounds
  WHERE NOT (b.es < lo + CAST(0.3 * (hi - lo) AS BIGINT)
             AND b.event_id % 10 <> 0)
),
alive2 AS (
  SELECT * FROM alive1 WHERE user_id % 9 IS DISTINCT FROM 2
)
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(vmic) AS BIGINT) AS sum_vmic,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       TRUE AS bytes_reclaimed, TRUE AS tombstone_written,
       TRUE AS old_version_refuses_loudly, TRUE AS retained_exact,
       TRUE AS source_guard_matches
FROM alive2
""",
)
def x_table_reclaim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The maintenance loop CLOSED: retention-shaped DELETE →
    minor COMPACTION (victims excluded, survivors rewritten,
    O(victim bytes)) → file-level VACUUM (``reclaim_dead=True`` —
    the bytes compaction retired finally leave disk, Delta's vacuum
    proper). Invariants packed into the row, each recomputed live:
    bytes on disk strictly decreased and the removed files are
    tombstoned (`_vacuumed.json`); the CURRENT version reads exactly
    (fingerprint vs the oracle's relational recomputation); the
    pre-compaction version — now outside retention — refuses LOUDLY
    on BOTH read paths (the engine's ``read()`` and the pyarrow-side
    ``format("managed_table")`` source apply the same tombstone
    guard; a silent partial read is the failure mode this layer
    exists to make unrepresentable); and the pushdown source's
    current-version row count equals the engine read's.

    Oracle: the two delete predicates recomputed relationally with
    NULL-safe complements over the same derived columns."""
    ensure_harness_conf(spark)
    import os
    import shutil
    import tempfile

    from .operators.table import ManagedTable
    from .sources.table_batch import register_table_source

    register_table_source(spark)
    ev = load(spark, sf_dir, "events")
    base = ev.select(
        "event_id",
        "user_id",
        ep.epoch_s(ev, "ts").cast("long").alias("es"),
        F.floor(F.col("value") * 1000000).cast("long").alias("vmic"),
    )
    root = tempfile.mkdtemp(prefix="reclaim_gate_")
    path = os.path.join(root, "t")

    def _bytes(p: str) -> int:
        total = 0
        for r, _, fs in os.walk(p):
            for f in fs:
                total += os.path.getsize(os.path.join(r, f))
        return total

    try:
        t = ManagedTable.create(
            base.repartitionByRange(16, "es").sortWithinPartitions("es"),
            path,
            key="event_id",
            stat_cols=["es"],
        )
        lo, hi = t.read().agg(F.min("es"), F.max("es")).collect()[0]
        cutoff = int(lo + 0.3 * (hi - lo))
        # retention delete: the oldest 30% of the range dies (except a
        # 10% keeper slice, so compaction rewrites real survivors)
        t.delete((F.col("es") < cutoff) & (F.col("event_id") % 10 != 0))
        vc = t.compact(dead_frac=0.3)
        assert vc is not None, "compaction found no victims"
        t.delete(F.col("user_id") % 9 == 2)  # keeps v_compact retained-1

        size_before = _bytes(path)
        t.vacuum(keep_last=2, reclaim_dead=True)
        bytes_reclaimed = _bytes(path) < size_before
        tombstone = os.path.isfile(os.path.join(path, "v1", "_vacuumed.json"))

        refused_engine = refused_source = False
        try:
            t.read(version=1).count()
        except ValueError as e:
            refused_engine = "retention" in str(e) or "reclaim" in str(e)
        try:
            spark.read.format("managed_table").option("path", path).option(
                "version", 1
            ).load().count()
        except Exception as e:
            refused_source = "retention" in str(e) or "reclaim" in str(e)

        eng = t.read()
        src_n = (
            spark.read.format("managed_table")
            .option("path", path)
            .load()
            .count()
        )
        retained_exact = t.read(version=vc).count() > eng.count()
        return (
            eng.agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.sum("vmic").cast("long").alias("sum_vmic"),
                F.countDistinct("user_id").cast("long").alias("n_users"),
            )
            .withColumns(
                {
                    "bytes_reclaimed": F.lit(bool(bytes_reclaimed)),
                    "tombstone_written": F.lit(bool(tombstone)),
                    "old_version_refuses_loudly": F.lit(
                        bool(refused_engine and refused_source)
                    ),
                    "retained_exact": F.lit(bool(retained_exact)),
                    "source_guard_matches": F.lit(
                        bool(src_n == eng.count())
                    ),
                }
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)
