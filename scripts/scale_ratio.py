"""Time named queries at two points and diff their plan shapes.

A point is a tier directory, optionally with a core count:
``DIR`` or ``DIR@CPUS`` (default: the session's usual core count).

- Two tiers, one core count (r6 verdict #3): gen-sf0.1 vs gen-sf1,
  the same generator at both (scripts/gen_scale_tier.py). A healthy
  design shows a time ratio ≈ data ratio (10×) or better and an
  IDENTICAL plan shape at both tiers: no new exchange at the larger
  sf. Any super-linear query gets named with a cause in SCALE.md.
- One tier, two core counts (r13 verdict #8): e.g.
  ``/tmp/sfgen/sf1@32 /tmp/sfgen/sf1@8
  x_pipeline_activity_e2e,x_pipeline_corpus_filter``; a
  parallel-healthy query's ratio approaches 32/8 = 4, the JVM floor
  pulls it toward 1.

Each query runs through a noop sink, once untimed per session, then
best-of-2 at each point; the sessions are sequential in one process.

Usage: python scripts/scale_ratio.py [point_a] [point_b] [queries] [out.json]
(defaults /tmp/sfgen/sf0.1 and /tmp/sfgen/sf1; queries is a comma list
or ``-`` for the default heavy hitters). Prints one JSON line per query
(t_a, t_b, ratio = t_b / t_a, plan-node histograms at both points and
whether they are identical) and a summary line. With out.json, also
writes an artifact {query → times, ratio, plan-histogram md5 per
point}: a plan change at either point flips that query's hash, so
scale regressions diff across rounds.
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


def parse_point(arg: str) -> tuple[str, int | None]:
    tier, _, cpus = arg.partition("@")
    return tier, int(cpus) if cpus else None


def compare(points, names: list[str]) -> list[dict]:
    """Best-of-2 noop-sink wall and plan shape of each query at two
    ``(tier_dir, cpus)`` points; a new session starts whenever the core
    count changes."""
    import __spark_entry__ as E
    from strava_etl_public_spark.queries import EXTRA_QUERIES
    from strava_etl_public_spark.session import get_spark

    qs = dict(EXTRA_QUERIES)
    qs.update(E.queries())
    recs = {n: {"q": n} for n in names}
    spark, session_cpus, warm = None, None, set()
    for tag, (tier, cpus) in zip("ab", points):
        if spark is None or cpus != session_cpus:
            if spark is not None:
                spark.stop()
            spark = get_spark(app_name="scale-ratio", cpus=cpus)
            session_cpus, warm = cpus, set()
        for n in names:
            if n not in warm:  # JIT/codegen warm-up, once per session
                _noop(qs[n](spark, tier))
                spark.catalog.clearCache()
                warm.add(n)
            best = float("inf")
            for _ in range(2):
                t0 = time.perf_counter()
                _noop(qs[n](spark, tier))
                best = min(best, time.perf_counter() - t0)
                spark.catalog.clearCache()
            recs[n][f"t_{tag}"] = round(best, 2)
            recs[n][f"plan_{tag}"] = plan_shape(qs[n](spark, tier))
    spark.stop()
    for r in recs.values():
        r["ratio"] = round(r["t_b"] / max(r["t_a"], 1e-9), 2)
        r["plan_identical"] = r["plan_a"] == r["plan_b"]
    return list(recs.values())


def main() -> int:
    args = sys.argv[1:]
    a = args[0] if args else "/tmp/sfgen/sf0.1"
    b = args[1] if len(args) > 1 else "/tmp/sfgen/sf1"
    names = args[2].split(",") if len(args) > 2 and args[2] != "-" else QUERIES
    out = compare([parse_point(a), parse_point(b)], names)
    for rec in out:
        print(json.dumps(rec), flush=True)
    worst = max(out, key=lambda r: r["ratio"])
    print(json.dumps({
        "metric": "scale_ratio",
        "a": a,
        "b": b,
        "worst_query": worst["q"],
        "worst_ratio": worst["ratio"],
        "all_plans_identical": all(r["plan_identical"] for r in out),
    }))

    if len(args) > 3:
        def phash(h: dict) -> str:
            return hashlib.md5(json.dumps(h, sort_keys=True).encode()).hexdigest()[:12]

        artifact = {
            "metric": "scale_ratio_artifact",
            "a": a,
            "b": b,
            "queries": {
                r["q"]: {
                    "t_a": r["t_a"],
                    "t_b": r["t_b"],
                    "ratio": r["ratio"],
                    "plan_hash_a": phash(r["plan_a"]),
                    "plan_hash_b": phash(r["plan_b"]),
                    "plan_identical": r["plan_identical"],
                    "plan_b": r["plan_b"],
                }
                for r in out
            },
        }
        with open(args[3], "w") as f:
            json.dump(artifact, f, indent=1, sort_keys=True)
        print(f"artifact -> {args[3]}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
