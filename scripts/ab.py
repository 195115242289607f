"""Paired A/B timing of the same queries from two git refs.

Loads both refs' query registries into one warm JVM (git worktree +
module-purge isolation) and times the named queries at
$SPARK_GRAFT_SF_DIR with the order-balanced paired loop
``bench.paired_ab`` — the protocol bench.py uses for its leg against
the previous close, pointed at any two refs. ``--head`` defaults to the
working tree, ``--base`` to ``bench.PREV_BENCH_COMMIT``; ``--base HEAD``
with no ``--head`` is the null test (identical code on both sides must
read ~0%).

Usage:
    python scripts/ab.py [--base REF] [--head REF] [--pairs N] q [q ...]

Prints one JSON line: per query the median, min-vs-min and per-block
paired deltas with the block delta's 90% bootstrap interval (head
relative to base, %; positive = head slower) and both sides' samples.
The block delta cancels the second slot's advantage; read it first.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--base", default=bench.PREV_BENCH_COMMIT)
    ap.add_argument("--head", default=None, help="git ref (default: working tree)")
    # EVEN default: an odd pair count leaves the order alternation
    # itself unbalanced — one side gets the hot-adjacency slot in
    # (pairs+1)/2 of the pairs and the median of an odd list is drawn
    # from that majority class, re-introducing residual bias.
    ap.add_argument("--pairs", type=int, default=6)
    ap.add_argument("queries", nargs="+")
    args = ap.parse_args()
    if args.pairs % 2 == 1:
        print(f"WARNING: odd --pairs {args.pairs} leaves the order alternation "
              "unbalanced (residual hot-adjacency bias); use an even count",
              file=sys.stderr)

    from strava_etl_public_spark.session import get_spark

    spark = get_spark(app_name="ab")
    spark.sparkContext.setLogLevel("ERROR")

    checkouts = [bench._checkout(args.base)]
    try:
        base_qs = bench._load_registry(checkouts[0])
        head_dir = bench.HERE
        if args.head is not None:
            head_dir = bench._checkout(args.head)
            checkouts.append(head_dir)
        head_qs = bench._load_registry(head_dir)
        missing = [n for n in args.queries if n not in base_qs or n not in head_qs]
        if missing:
            ap.error(f"not registered on both sides: {missing}")

        # warm both sides once (JIT/codegen + Python-worker import cost)
        for n in args.queries:
            bench._noop(base_qs[n](spark, bench.WARMUP_DIR))
            bench._noop(head_qs[n](spark, bench.WARMUP_DIR))
            spark.catalog.clearCache()

        res = bench.paired_ab(
            base_qs, head_qs, args.queries, args.pairs,
            bench._timed_leg(spark, bench.SF_DIR),
        )
    finally:
        for path in checkouts:
            bench._release(path)
    print(json.dumps({
        "base": args.base,
        "head": args.head or "working tree",
        "pairs": args.pairs,
        "sf_dir": bench.SF_DIR,
        **res,
    }))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
