"""Per-query plan shape, wall time and Spark job count.

For each named query (default: bench.py HEADLINE) at $SPARK_GRAFT_SF_DIR:

- captures ``explain("formatted")`` into <out>/<q>_<tag>.txt
- counts plan-shape signals (Exchange / Sort / Window / *EvalPython /
  join strategies / WholeStageCodegen spans / parquet scans)
- times the query end-to-end with the noop sink, N runs, and records
  the number of Spark jobs the timed runs submitted (job-floor
  accounting: at sf0.1 many queries are fixed-overhead-bound, so the
  job count is the denominator that explains the wall clock)

Usage:
    python scripts/profile_queries.py [--tag before|after] [--runs 3] [--out DIR] [q ...]

Prints one JSON line per query plus a summary JSON line, so a
``--tag before`` and a ``--tag after`` run can be diffed
programmatically.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402


def _plan_stats(plan: str) -> dict:
    def n(pat: str) -> int:
        return len(re.findall(pat, plan))

    return {
        "exchange": n(r"\bExchange\b"),
        "reused_exchange": n(r"\bReusedExchange\b"),
        "sort": n(r"\+- \*?\(?\d*\)?\s*Sort\b|^\s*\(?\d+\)?\s+Sort\b"),
        "window": n(r"\bWindow\b"),
        "bhj": n(r"\bBroadcastHashJoin\b"),
        "smj": n(r"\bSortMergeJoin\b"),
        "shj": n(r"\bShuffledHashJoin\b"),
        "bnlj": n(r"\bBroadcastNestedLoopJoin\b"),
        "cartesian": n(r"\bCartesianProduct\b"),
        "py_eval": n(r"\b(BatchEvalPython|ArrowEvalPython)\b"),
        "map_arrow": n(r"\b(MapInArrow|MapInPandas|FlatMapGroupsInPandas|"
                       r"FlatMapGroupsInArrow)\b"),
        "wsc_spans": len(set(re.findall(r"WholeStageCodegen \((\d+)\)", plan))),
        "scan_parquet": n(r"\bScan parquet\b"),
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--tag", default="before")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--out", default=os.path.join(bench.HERE, "plans"))
    ap.add_argument("queries", nargs="*")
    args = ap.parse_args()

    import __spark_entry__ as E
    from strava_etl_public_spark.queries import EXTRA_QUERIES as _EXTRAS
    from strava_etl_public_spark.session import get_spark

    spark = get_spark(app_name="profile")
    sc = spark.sparkContext
    qs = dict(_EXTRAS)
    qs.update(E.queries())
    names = args.queries or [n for n in bench.HEADLINE if n in qs]
    os.makedirs(args.out, exist_ok=True)

    # warm-up on the smallest fixture (JIT/codegen), same as bench
    for n in names:
        try:
            bench._noop(qs[n](spark, bench.WARMUP_DIR))
        except Exception as e:  # noqa: BLE001
            print(json.dumps({"query": n, "warmup_error": repr(e)}))
        finally:
            spark.catalog.clearCache()

    try:  # Spark 4: the concrete class owns the method
        from pyspark.sql.classic.dataframe import DataFrame as _DF
    except ImportError:  # Spark 3.x
        from pyspark.sql import DataFrame as _DF

    def _capture_plan(n: str) -> str:
        """Full composition plan: localCheckpoint is patched to identity
        for the EXPLAIN-ONLY construction, so checkpoint-truncated
        pipelines show their real operator tree (planning only — the
        timed runs below use the unpatched production path)."""
        orig = _DF.localCheckpoint
        _DF.localCheckpoint = lambda self, eager=True: self  # type: ignore[method-assign]
        try:
            df = qs[n](spark, bench.SF_DIR)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            return buf.getvalue()
        finally:
            _DF.localCheckpoint = orig  # type: ignore[method-assign]

    results: dict[str, dict] = {}
    for n in names:
        rec: dict = {"query": n}
        plan = _capture_plan(n)
        with open(os.path.join(args.out, f"{n}_{args.tag}.txt"), "w") as f:
            f.write(plan)
        rec["plan"] = _plan_stats(plan)
        spark.catalog.clearCache()

        times = []
        group = f"profile_{n}"
        sc.setJobGroup(group, f"profile: {n}")
        jobs_before = len(sc.statusTracker().getJobIdsForGroup(group))
        for _ in range(args.runs):
            t0 = time.perf_counter()
            bench._noop(qs[n](spark, bench.SF_DIR))
            times.append(round(time.perf_counter() - t0, 3))
            spark.catalog.clearCache()
        jobs_after = len(sc.statusTracker().getJobIdsForGroup(group))
        sc.setJobGroup("", "")
        ts = sorted(times)
        rec["times"] = times
        rec["best"] = ts[0]
        rec["median"] = ts[len(ts) // 2]
        rec["jobs_per_run"] = round((jobs_after - jobs_before) / max(args.runs, 1), 1)
        results[n] = rec
        print(json.dumps(rec))
        sys.stdout.flush()

    total_med = round(sum(r["median"] for r in results.values()), 3)
    print(json.dumps({"summary": True, "tag": args.tag, "sf_dir": bench.SF_DIR,
                      "total_median": total_med,
                      "medians": {k: v["median"] for k, v in results.items()}}))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
