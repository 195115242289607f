"""Measure the merge-on-read UPDATE claim: cost ∝ updated rows, never
table volume.

tests/test_table*.py prove correctness at fixture scale; this
script MEASURES the scale argument (SCALE.md's claim-then-measure
discipline) on gen-scale events: for update shares {0.1%, 1%, 10%},
compare

  (a) DV update  — predicate scan + O(updated) sidecar + _upd write
  (b) rewrite    — the same update as a full-copy commit (CASE WHEN
                   over every row, what a table without DV updates
                   must do)

and record bytes written by each path plus the merge-on-read read tax
(aggregate over the DV+appends-masked table vs after OPTIMIZE).

Usage: python scripts/scale_smoke_update.py [n_events] [outdir]
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
    from strava_etl_public_spark.operators.layout import dataset_fingerprint
    from strava_etl_public_spark.operators.table import ManagedTable
    from strava_etl_public_spark.session import ensure_harness_conf, get_spark

    spark = get_spark("scale_update")
    spark.sparkContext.setLogLevel("ERROR")
    ensure_harness_conf(spark)

    root = tempfile.mkdtemp(prefix="upd_scale_")
    ev_path = os.path.join(root, "events")
    gen_events(spark, N, n_users=N // 20).write.parquet(ev_path)
    ev = spark.read.parquet(ev_path).withColumn("es", F.col("ts").cast("long"))
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
        set_exprs = {"value": F.col("value") * 2 + 1}

        t0 = time.monotonic()
        v = t_dv.update(pred, set_exprs)
        dv_wall = time.monotonic() - t0
        dv_bytes = _dir_bytes(os.path.join(root, "t_dv", f"v{v}"))

        # the rewrite path: CASE WHEN over every row, full copy commit
        t0 = time.monotonic()
        rewritten = t_rw.read().withColumn(
            "value",
            F.when(pred, set_exprs["value"]).otherwise(F.col("value")),
        )
        v_rw = t_rw._commit(rewritten)
        rw_wall = time.monotonic() - t0
        rw_bytes = _dir_bytes(os.path.join(root, "t_rw", f"v{v_rw}"))

        # content equality of the two paths (order-free digest)
        d_dv = dataset_fingerprint(t_dv.read()).collect()[0]
        d_rw = dataset_fingerprint(t_rw.read()).collect()[0]
        assert tuple(d_dv)[1:] == tuple(d_rw)[1:], (d_dv, d_rw)

        t0 = time.monotonic()
        t_dv.read().agg(F.sum("value"), F.count(F.lit(1))).collect()
        read_dv = time.monotonic() - t0
        t0 = time.monotonic()
        t_rw.read().agg(F.sum("value"), F.count(F.lit(1))).collect()
        read_rw = time.monotonic() - t0

        row = {
            "share": label,
            "rows_updated": int(N // mod) if mod else 0,
            "dv_update_wall_s": round(dv_wall, 2),
            "rewrite_wall_s": round(rw_wall, 2),
            "dv_bytes": dv_bytes,
            "rewrite_bytes": rw_bytes,
            "write_amplification_saved": round(rw_bytes / max(dv_bytes, 1), 1),
            "read_merge_on_read_s": round(read_dv, 2),
            "read_materialized_s": round(read_rw, 2),
        }
        results["shares"].append(row)
        print(json.dumps(row), flush=True)

    print(json.dumps(results))
    shutil.rmtree(root, ignore_errors=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
