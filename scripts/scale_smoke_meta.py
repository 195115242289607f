"""Measure the commit-METADATA path at scale (round-10 verdict #2).

The data path was proven O(changed bytes) in round 9 (scale_smoke_dv /
scale_smoke_update); what remained unmeasured was the metadata side:

  1. lineage walks — last_txn / as_of were O(versions) record reads;
     now last_txn is O(1) (folded txn_hw in every record) and as_of is
     O(checkpoint cadence) via `_ckpts/_ckpt_{n}.json`. Measure all
     three paths at 10k versions: pointer read, O(1) high-water read,
     checkpointed walk, and the legacy full walk it replaced.
  2. per-version manifest — ONE driver-materialized JSON built from a
     collect() of per-file stat rows. Measure build wall, JSON size,
     and the driver-side prune decision at 10k files per version
     (10⁵–10⁶ files is the 100 TB regime; 10k on one box bounds the
     per-file constants).

Part 1 is pure metadata (no Spark): commit records are synthesized
exactly as layout.snapshot_commit_ref writes them. Part 2 writes real
parquet (10M rows / 10k files) and runs the real manifest build.

Usage: python scripts/scale_smoke_meta.py [n_versions] [n_files] [outdir]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, ".")

N_VERSIONS = int(sys.argv[1]) if len(sys.argv) > 1 else 10_000
N_FILES = int(sys.argv[2]) if len(sys.argv) > 2 else 10_000
OUT = sys.argv[3] if len(sys.argv) > 3 else tempfile.mkdtemp(prefix="meta_smoke_")


def synth_table(root: str, n: int, ckpt_every: int | None) -> None:
    """A table directory with ``n`` chained commit records (and a DV
    dir per version so _resolve treats them as reference commits is
    NOT needed — the walkers only read records), every 10th commit
    carrying a txn marker, records shaped exactly like
    layout.snapshot_commit_ref's output."""
    from strava_etl_public_spark.operators import layout

    cdir = os.path.join(root, "_commits")
    os.makedirs(cdir, exist_ok=True)
    hw = -1
    for v in range(1, n + 1):
        rec = {
            "version": v,
            "dataset": f"v{v}",
            "n_rows": 100,
            "xor_hash": v,
            "sum_hash_mod": v,
            "parent": v - 1,
            "ts": 1000.0 + v,
        }
        if v % 10 == 0:
            rec["txn"] = v // 10
            hw = max(hw, v // 10)
        rec["txn_hw"] = hw
        with open(os.path.join(cdir, f"{v}.json"), "w") as f:
            json.dump(rec, f)
        if ckpt_every and v % ckpt_every == 0:
            layout._maybe_write_lineage_ckpt(root, v)
    with open(os.path.join(root, "_latest"), "w") as f:
        f.write(str(n))
    # version dirs exist so ManagedTable._resolve/version() are happy
    os.makedirs(os.path.join(root, f"v{n}"), exist_ok=True)
    with open(os.path.join(root, "_table.json"), "w") as f:
        json.dump({"key": ["id"], "stat_cols": []}, f)


def time_ms(fn, reps: int = 5) -> float:
    best = float("inf")
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t0)
    return round(best * 1000, 2)


def part1_lineage() -> dict:
    from strava_etl_public_spark.operators import layout
    from strava_etl_public_spark.operators.table import ManagedTable

    class _NoSpark:  # the metadata walkers never touch Spark
        pass

    out: dict = {"n_versions": N_VERSIONS}
    for label, ckpt in (("ckpt", layout.SNAPSHOT_CKPT_EVERY), ("walk", None)):
        root = os.path.join(OUT, f"lineage_{label}")
        shutil.rmtree(root, ignore_errors=True)
        t0 = time.perf_counter()
        synth_table(root, N_VERSIONS, ckpt)
        out[f"synth_s_{label}"] = round(time.perf_counter() - t0, 2)
        t = ManagedTable.__new__(ManagedTable)
        t.spark = _NoSpark()
        t.path = root
        out[f"pointer_read_ms_{label}"] = time_ms(t.version)
        out[f"last_txn_ms_{label}"] = time_ms(t.last_txn)

        def _as_of_probe():
            # newest lineage version with ts <= probe: near the CHAIN's
            # start, the worst case for the walk
            for v, rec in t._lineage():
                if float(rec.get("ts", float("inf"))) <= 1010.0:
                    return v

        out[f"as_of_resolve_ms_{label}"] = time_ms(_as_of_probe)
        # checkpoint bytes: the metadata cost of the fast path
        kdir = os.path.join(root, "_ckpts")
        if os.path.isdir(kdir):
            sizes = [
                os.path.getsize(os.path.join(kdir, f))
                for f in os.listdir(kdir)
            ]
            out["ckpt_files"] = len(sizes)
            out["ckpt_total_mb"] = round(sum(sizes) / 1e6, 2)
            out["ckpt_max_kb"] = round(max(sizes) / 1e3, 1)
    return out


def part2_manifest() -> dict:
    from strava_etl_public_spark.session import get_spark
    from pyspark.sql import functions as F

    spark = get_spark(app_name="meta_smoke")
    root = os.path.join(OUT, "manifest")
    shutil.rmtree(root, ignore_errors=True)
    n_rows = 1000 * N_FILES
    t0 = time.perf_counter()
    (
        spark.range(n_rows)
        .withColumn("k", (F.col("id") * 2).cast("long"))
        .withColumn("v", (F.col("id") % 97).cast("double"))
        .repartitionByRange(N_FILES, "id")
        .write.mode("overwrite")
        .parquet(root)
    )
    write_s = time.perf_counter() - t0

    from strava_etl_public_spark.operators.table import ManagedTable

    t = ManagedTable.__new__(ManagedTable)
    t.spark = spark
    t.path = os.path.dirname(root)
    t.stat_cols = ["id", "k"]
    t.bloom_col = None
    t0 = time.perf_counter()
    t._write_manifest(
        root,
        spark.read.parquet(root),
        F.element_at(F.split(F.input_file_name(), "/"), -1),
    )
    build_s = time.perf_counter() - t0
    size_mb = os.path.getsize(os.path.join(root, "_manifest.json")) / 1e6

    # driver-side prune decision over the full manifest (the part a
    # scan pays BEFORE any cluster job starts)
    with open(os.path.join(root, "_manifest.json")) as f:
        manifest = json.load(f)

    def prune():
        lo, hi = n_rows // 2, n_rows // 2 + 5000
        return [
            r["file"]
            for r in manifest["files"]
            if not (
                r["max_id"] is None
                or r["min_id"] is None
                or r["max_id"] < lo
                or r["min_id"] > hi
            )
        ]

    prune_ms = time_ms(prune)
    kept = len(prune())
    spark.stop()
    return {
        "n_files": N_FILES,
        "n_rows": n_rows,
        "write_s": round(write_s, 1),
        "manifest_build_s": round(build_s, 2),
        "manifest_mb": round(size_mb, 2),
        "prune_decide_ms": prune_ms,
        "files_kept": kept,
    }


if __name__ == "__main__":
    res = {"lineage": part1_lineage(), "manifest": part2_manifest()}
    print(json.dumps(res, indent=2))
    shutil.rmtree(OUT, ignore_errors=True)
