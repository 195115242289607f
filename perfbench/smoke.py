"""Smoke test of the benchmark at a tiny generated size.

    python3 perfbench/smoke.py

Run from the repository root (takes a few minutes: every case starts
its own Spark session). It checks that

* both workloads complete, untraced and traced, with a passing gate;
* every end-to-end metric (untraced) and every per-layer metric
  (traced) is emitted, with its unit;
* a deliberately corrupted output fails the gate: nonzero exit,
  ``correct`` false;
* from a directory that holds only ``BENCHMARK.json`` and this
  directory (no library), the command exits nonzero without a result.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE]

from run import declared  # noqa: E402

WORKLOADS = ("activity_sync", "corpus_curation")


def bench(cwd: str, *args: str) -> tuple[int, dict | None, str]:
    cmd = [sys.executable, "perfbench/run.py", "--seed", "5", "--seconds", "3", *args]
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        result = None
    return p.returncode, result, p.stderr


def check_result(result: dict | None, expected: dict) -> list[str]:
    if result is None:
        return ["no JSON result line"]
    errs = []
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        errs.append(f"result keys {sorted(result)}")
    if not result.get("correct") or result.get("failed") != 0:
        errs.append(f"correct={result.get('correct')} failed={result.get('failed')}")
    metrics = result.get("metrics", {})
    if set(metrics) != set(expected):
        errs.append(f"metrics differ: {sorted(set(metrics) ^ set(expected))}")
    for name, m in metrics.items():
        if m.get("unit") != expected.get(name) or not isinstance(m.get("value"), (int, float)):
            errs.append(f"{name}: {m}")
    return errs


def main() -> int:
    failures = []

    def case(label: str, errs: list[str], stderr: str = "") -> None:
        print(f"{'ok  ' if not errs else 'FAIL'} {label}")
        for e in errs:
            print(f"     {e}")
        if errs:
            print("\n".join(stderr.splitlines()[-15:]))
            failures.append(label)

    for w in WORKLOADS:
        base = ["--workload", w, "--scale", "tiny"]
        rc, res, err = bench(ROOT, *base, "--trace", "0")
        case(f"{w} untraced", (["exit code %d" % rc] if rc else []) + check_result(res, declared("end_to_end")), err)
        rc, res, err = bench(ROOT, *base, "--trace", "1")
        case(f"{w} traced", (["exit code %d" % rc] if rc else []) + check_result(res, declared("per_layer")), err)
        rc, res, err = bench(ROOT, *base, "--trace", "0", "--corrupt")
        errs = []
        if rc == 0:
            errs.append("corrupted output exited 0")
        if res is None or res.get("correct") is not False or not res.get("failed"):
            errs.append(f"corrupted output not flagged: {res}")
        case(f"{w} corrupted output trips the gate", errs, err)

    bare = os.path.join(HERE, "_work", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"), ignore=shutil.ignore_patterns("_work", "__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    rc, res, err = bench(bare, "--workload", WORKLOADS[0], "--trace", "0")
    shutil.rmtree(bare, ignore_errors=True)
    case("no library: nonzero exit, no result", (["exit code 0"] if rc == 0 else []) + (["printed a result"] if res else []), err)

    print(f"{len(failures)} failed")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
