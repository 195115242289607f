"""Measure the deletion-vector claim: DELETE cost ∝ deleted rows,
never table volume.

tests/test_table*.py prove DV correctness at fixture scale; this
script MEASURES the scale argument (SCALE.md's claim-then-measure
discipline) on gen-scale events: for delete shares {0.1%, 1%, 10%},
compare

  (a) DV delete  — predicate scan + O(deleted) sidecar write
  (b) rewrite    — the same delete as a full-copy commit (what a
                   table without DVs must do)

and record bytes written by each path (the version dir's on-disk
delta) plus the merge-on-read tax: an aggregate over the DV-masked
table vs the same aggregate after OPTIMIZE materializes it.

Usage: python scripts/scale_smoke_dv.py [n_events] [outdir]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, ".")
sys.path.insert(0, "scripts")

N = int(sys.argv[1]) if len(sys.argv) > 1 else 10_000_000


def _dir_bytes(p: str) -> int:
    total = 0
    for root, _, files in os.walk(p):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def main() -> int:
    from pyspark.sql import functions as F

    from gen_scale_tier import gen_events
    from strava_etl_public_spark.operators.table import ManagedTable
    from strava_etl_public_spark.session import ensure_harness_conf, get_spark

    spark = get_spark("scale_dv")
    spark.sparkContext.setLogLevel("ERROR")
    ensure_harness_conf(spark)

    root = tempfile.mkdtemp(prefix="dv_scale_")
    ev_path = os.path.join(root, "events")
    gen_events(spark, N, n_users=N // 20).write.parquet(ev_path)
    ev = spark.read.parquet(ev_path).withColumn(
        "es", F.col("ts").cast("long")
    )
    # project to a DV-friendly shape (ts handled via es long)
    base = ev.select("event_id", "user_id", "event_type", "es", "value")

    results = {"n_events": N, "shares": []}
    for label, mod in (("0.1%", 1000), ("1%", 100), ("10%", 10)):
        shutil.rmtree(os.path.join(root, "t_dv"), ignore_errors=True)
        shutil.rmtree(os.path.join(root, "t_rw"), ignore_errors=True)
        t_dv = ManagedTable.create(
            base.repartitionByRange(64, "es").sortWithinPartitions("es"),
            os.path.join(root, "t_dv"),
            key="event_id",
            stat_cols=["es"],
        )
        t_rw = ManagedTable.create(
            base.repartitionByRange(64, "es").sortWithinPartitions("es"),
            os.path.join(root, "t_rw"),
            key="event_id",
            stat_cols=["es"],
        )
        pred = F.col("user_id") % mod == 1

        t0 = time.monotonic()
        v = t_dv.delete(pred)
        dv_wall = time.monotonic() - t0
        dv_bytes = _dir_bytes(os.path.join(root, "t_dv", f"v{v}"))

        # the rewrite path: materialize survivors as a copy commit
        t0 = time.monotonic()
        survivors = t_rw.read().filter(~pred | pred.isNull())
        v_rw = t_rw._commit(survivors)
        rw_wall = time.monotonic() - t0
        rw_bytes = _dir_bytes(os.path.join(root, "t_rw", f"v{v_rw}"))

        n_dv = t_dv.read().count()
        n_rw = t_rw.read().count()
        assert n_dv == n_rw, (n_dv, n_rw)

        # merge-on-read tax: aggregate over DV-masked vs materialized
        t0 = time.monotonic()
        t_dv.read().agg(F.sum("value"), F.count(F.lit(1))).collect()
        read_dv = time.monotonic() - t0
        t0 = time.monotonic()
        t_rw.read().agg(F.sum("value"), F.count(F.lit(1))).collect()
        read_rw = time.monotonic() - t0

        row = {
            "share": label,
            "rows_deleted": N - n_dv,
            "dv_wall_s": round(dv_wall, 2),
            "rewrite_wall_s": round(rw_wall, 2),
            "dv_bytes": dv_bytes,
            "rewrite_bytes": rw_bytes,
            "write_amplification_saved": round(rw_bytes / max(dv_bytes, 1), 1),
            "read_dv_s": round(read_dv, 2),
            "read_materialized_s": round(read_rw, 2),
        }
        results["shares"].append(row)
        print(json.dumps(row), flush=True)

    print(json.dumps(results))
    shutil.rmtree(root, ignore_errors=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
