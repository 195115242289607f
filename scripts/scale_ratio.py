"""Heavy-hitter scale test: time the most expensive headline queries
at gen-sf0.1 vs gen-sf1 (same generator both tiers — see
gen_scale_tier.py) and diff the plan SHAPES (r6 verdict #3).

A healthy 100 TB design shows: time ratio ≈ data ratio (10×) or
better, and an IDENTICAL plan shape at both tiers — no new exchanges
appearing at the larger sf. Any super-linear query gets named with a
cause in SCALE.md.

Usage: python scripts/scale_ratio.py [small_dir] [big_dir] [queries] [out.json]
Prints one JSON line per query: name, t_small, t_big, ratio,
plan_small/plan_big node histograms and whether they are identical.
With a 4th arg, also writes a committed artifact (round 8, verdict
#9): {query → times, ratio, plan-histogram md5 per tier} — a plan
change at either tier flips that query's hash, so scale regressions
diff round-over-round the way CORRECTNESS_r{N}.json already does.
"""

from __future__ import annotations

import hashlib
import json
import re
import sys
import time

sys.path.insert(0, ".")

QUERIES = [
    "x_pipeline_activity_e2e",
    "x_pipeline_corpus_filter",
    "g2_rolling_maxes_wide",
    "x_dedup_minhash_lsh",
    "x_sim_topk_ivf_arrow",
    "x_text_tfidf",
    # round-8 promotions + the incremental maintainer
    "x_text_hybrid_retrieval",
    "x_pit_join_state",
    "x_feature_trailing_window",
    "x_dedup_incremental",
    "x_sim_knn_join",
]

NODE_RE = re.compile(r"^\s*[+:*-]*\s*\(?\d*\)?\s*([A-Za-z][A-Za-z0-9]+)", re.M)
KEEP = {
    "Exchange", "HashAggregate", "SortAggregate", "ObjectHashAggregate",
    "Sort", "SortMergeJoin", "BroadcastHashJoin", "BroadcastNestedLoopJoin",
    "ShuffledHashJoin", "BroadcastExchange", "Window", "Expand", "Generate",
    "MapInPandas", "FlatMapGroupsInPandas", "CartesianProduct",
}


def plan_shape(df) -> dict[str, int]:
    txt = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    hist: dict[str, int] = {}
    for m in NODE_RE.finditer(txt):
        n = m.group(1)
        if n in KEEP:
            hist[n] = hist.get(n, 0) + 1
    return dict(sorted(hist.items()))


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


def main() -> int:
    small = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sfgen/sf0.1"
    big = sys.argv[2] if len(sys.argv) > 2 else "/tmp/sfgen/sf1"
    queries = (
        sys.argv[3].split(",")
        if len(sys.argv) > 3 and sys.argv[3] != "-"
        else QUERIES
    )

    import __spark_entry__ as E
    from strava_etl_public_spark.session import get_spark
    from strava_etl_public_spark.queries import EXTRA_QUERIES

    spark = get_spark(app_name="scale-ratio")
    qs = dict(EXTRA_QUERIES)
    qs.update(E.queries())

    out = []
    for n in queries:
        fn = qs[n]
        # warm-up at small tier
        _noop(fn(spark, small))
        spark.catalog.clearCache()
        rec: dict = {"q": n}
        for tag, d in (("small", small), ("big", big)):
            best = float("inf")
            for _ in range(2):
                t0 = time.perf_counter()
                _noop(fn(spark, d))
                best = min(best, time.perf_counter() - t0)
                spark.catalog.clearCache()
            rec[f"t_{tag}"] = round(best, 2)
            rec[f"plan_{tag}"] = plan_shape(fn(spark, d))
        rec["ratio"] = round(rec["t_big"] / max(rec["t_small"], 1e-9), 1)
        rec["plan_identical"] = rec["plan_small"] == rec["plan_big"]
        print(json.dumps(rec), flush=True)
        out.append(rec)

    worst = max(out, key=lambda r: r["ratio"])
    print(json.dumps({
        "metric": "scale_ratio_10x",
        "worst_query": worst["q"],
        "worst_ratio": worst["ratio"],
        "all_plans_identical": all(r["plan_identical"] for r in out),
    }))

    if len(sys.argv) > 4:
        def phash(h: dict) -> str:
            return hashlib.md5(
                json.dumps(h, sort_keys=True).encode()
            ).hexdigest()[:12]

        artifact = {
            "metric": "scale_ratio_artifact",
            "small_dir": small,
            "big_dir": big,
            "queries": {
                r["q"]: {
                    "t_small": r["t_small"],
                    "t_big": r["t_big"],
                    "ratio": r["ratio"],
                    "plan_hash_small": phash(r["plan_small"]),
                    "plan_hash_big": phash(r["plan_big"]),
                    "plan_identical": r["plan_identical"],
                    "plan_big": r["plan_big"],
                }
                for r in out
            },
        }
        with open(sys.argv[4], "w") as f:
            json.dump(artifact, f, indent=1, sort_keys=True)
        print(f"artifact -> {sys.argv[4]}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
