"""Lakehouse-DML query on the ManagedTable layer: the composed
create→merge→optimize→time-travel pipeline. The single-operation DML
extras were deleted by the extras census (EXTRAS_CENSUS.json): this
row and the table-family rows in queries_snapshots reach every
operator they reached.

Split from the original queries_tables.py (round 10, verdict #5
file-size discipline) at the scan-pruning/layout vs lakehouse-DML
seam — the snapshot/fingerprint/scan-pruning gates now live in
queries_snapshots.py. Registrations, names, and oracle SQL are
byte-unchanged; driver-query iteration order is fixed by
queries.QUERY_ORDER regardless of module layout.
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


_MT_FP_RENDER = ", ".join(
    f"coalesce(CAST({c} AS VARCHAR), chr(30))"
    for c in ["event_id", "user_id", "event_type", "es", "vmic"]
)


@register(
    "x_pipeline_managed_table",
    oracle=f"""
WITH base AS (
  SELECT event_id, user_id, event_type,
         CAST(epoch_ns(ts) // 1000000000 AS BIGINT) AS es,
         CAST(floor(value * 1000000) AS BIGINT) AS vmic
  FROM events
),
init AS (SELECT * FROM base WHERE event_id % 7 <> 0),
src AS (SELECT event_id, user_id, event_type, es, vmic + 1000000 AS vmic
        FROM base WHERE event_id % 3 = 0),
merged AS (
  SELECT i.* FROM init i LEFT JOIN src s ON s.event_id = i.event_id
  WHERE s.event_id IS NULL
  UNION ALL
  SELECT s.* FROM init i JOIN src s ON s.event_id = i.event_id
  WHERE s.user_id % 10 <> 0
  UNION ALL
  SELECT s.* FROM src s LEFT JOIN init i ON i.event_id = s.event_id
  WHERE i.event_id IS NULL
),
fp AS (
  SELECT CAST(count(*) AS BIGINT) AS n_rows,
         CAST(bit_xor(h) AS BIGINT) AS xor_hash,
         CAST(sum(h) % 1152921504606846976 AS BIGINT) AS sum_hash_mod
  FROM (SELECT CAST(concat('0x', substr(md5(concat_ws(chr(31), {_MT_FP_RENDER})),
                                        1, 15)) AS BIGINT) AS h
        FROM merged)
),
bounds AS (SELECT min(es) AS lo FROM merged),
scan AS (SELECT CAST(count(*) AS BIGINT) AS scan_rows
         FROM merged, bounds WHERE es BETWEEN lo AND lo + 86400)
SELECT 'managed_events' AS dataset, fp.n_rows, fp.xor_hash, fp.sum_hash_mod,
       TRUE AS optimize_lossless, TRUE AS files_reduced,
       TRUE AS time_travel_intact, scan.scan_rows, TRUE AS scan_pruned,
       TRUE AS scan_exact, CAST(3 AS BIGINT) AS history_len,
       CAST(1 AS BIGINT) AS vacuum_removed, TRUE AS vacuum_read_raises
FROM fp, scan
""",
)
def x_pipeline_managed_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MANAGED-TABLE pipeline fused end-to-end (round 9, verdict
    #3): every table-format primitive the engine proved separately —
    MERGE INTO, versioned snapshots, OPTIMIZE (clustered rewrite),
    manifest zone maps, time travel, vacuum — composed through the ONE
    entry point a table user actually holds (operators/table.py
    ManagedTable), with a single oracle row proving the composition:

      create(v1: events with event_id%7!=0, deliberately fragmented
        to 64 files — the small-file accretion OPTIMIZE exists to
        fix — stats on es)
      → MERGE (event_id%3==0 batch: values bumped 1e6 micro-units,
        matched targets with user_id%10==0 DELETED, unmatched
        inserted) = v2
      → time-travel check: v1 re-read still digests as the initial
        slice (history immutable under merge)
      → OPTIMIZE clustered by es = v3, losslessness digest-verified
        BEFORE publish, file count measured to shrink vs the
        fragmented v1 layout
      → manifest-pruned range scan of one day from min(es): must open
        fewer files than the version has AND return exactly the
        relational filter's rows
      → vacuum(keep_last=2): removes exactly v1, commit log intact,
        and time-traveling into the vacuumed version raises (loud,
        never an empty read).

    The final row carries the merged table's order-free content digest
    (the oracle recomputes the merge relationally in DuckDB) plus one
    boolean per composition proof — any primitive regressing under
    composition flips its flag or hash-mismatches the digest.
    Reference parity: the reference's keyed activity store with
    full-rewrite maintenance (main.py:199-203, firestore_sink.py),
    done as an auditable versioned table."""
    ensure_harness_conf(spark)
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
    init = base.filter(F.col("event_id") % 7 != 0)
    src = base.filter(F.col("event_id") % 3 == 0).withColumn(
        "vmic", F.col("vmic") + 1000000
    )
    root = tempfile.mkdtemp(prefix="managed_table_")
    path = os.path.join(root, "t")
    try:
        t = ManagedTable.create(
            init.repartition(64), path, key="event_id", stat_cols=["es"]
        )
        v2 = t.merge(src, delete_cond=F.col("_s_user_id") % 10 == 0)

        # history immutable under merge: v1 still digests as `init`
        tt_ok = (
            dataset_fingerprint(t.read(version=1), cols).collect()
            == dataset_fingerprint(init, cols).collect()
        )

        def _nfiles(v: int) -> int:
            return len(
                [
                    f
                    for f in os.listdir(os.path.join(path, f"v{v}"))
                    if f.startswith("part-")
                ]
            )

        total = sum(
            os.path.getsize(os.path.join(path, f"v{v2}", f))
            for f in os.listdir(os.path.join(path, f"v{v2}"))
            if f.startswith("part-")
        )
        v3 = t.optimize(target_bytes=total // 8 + 1, cluster_by=["es"])
        # vs the fragmented v1 layout (AQE may already have coalesced
        # the merge output at tiny scale factors)
        files_reduced = _nfiles(v3) < _nfiles(1)
        opt_lossless = (
            dataset_fingerprint(t.read(version=v2), cols).collect()
            == dataset_fingerprint(t.read(version=v3), cols).collect()
        )

        lo = t.read().agg(F.min("es")).collect()[0][0]
        sdf, files_read, files_total = t.scan("es", lo, lo + 86400)
        scan_rows = sdf.count()
        exact = t.read().filter(F.col("es").between(lo, lo + 86400)).count()
        scan_pruned = files_read < files_total
        scan_exact = scan_rows == exact

        removed = t.vacuum(keep_last=2)
        hist = t.history().count()
        try:
            t.read(version=1)
            v1_raises = False
        except ValueError:
            v1_raises = True

        fp = dataset_fingerprint(t.read(), cols, label="managed_events")
        return fp.withColumns(
            {
                "optimize_lossless": F.lit(bool(opt_lossless)),
                "files_reduced": F.lit(bool(files_reduced)),
                "time_travel_intact": F.lit(bool(tt_ok)),
                "scan_rows": F.lit(int(scan_rows)).cast("long"),
                "scan_pruned": F.lit(bool(scan_pruned)),
                "scan_exact": F.lit(bool(scan_exact)),
                "history_len": F.lit(int(hist)).cast("long"),
                "vacuum_removed": F.lit(len(removed)).cast("long"),
                "vacuum_read_raises": F.lit(bool(v1_raises)),
            }
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)
