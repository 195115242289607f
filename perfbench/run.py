"""Wall-clock benchmark of the activity-sync and corpus-curation
workloads (README.md in this directory).

    python3 perfbench/run.py --workload activity_sync --seed 1 --seconds 15 --trace 0

Run from the repository root. One process, one Spark session on
``local[4]``, one closed-loop client: each operation starts when the
previous one has returned. The run generates its inputs from
``--seed``, sets up (session + fixed warm-up operations), times a
fixed number of operations — as many as fill ``--seconds`` at the
workload's nominal operation time — then runs the correctness gate.
The last line of standard output is one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with
``--trace 1`` they are the per-layer ones of a separately traced run.
A failed operation or gate check makes the exit code nonzero.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def declared(kind: str) -> dict[str, str]:
    """Metric name → unit, as ``BENCHMARK.json`` declares them
    (``kind``: "end_to_end" or "per_layer")."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def process_age_s() -> float:
    """Seconds since this process started (kernel start time)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=("activity_sync", "corpus_curation"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("full", "tiny"), default="full")
    p.add_argument(
        "--corrupt", action="store_true",
        help="damage the output before the gate (the smoke test's negative case)",
    )
    return p.parse_args(argv)


def isolate(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # every JVM spark-submit starts: no hsperfdata file in the system /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            "--driver-memory 2g",
            f"--driver-java-options -Djava.io.tmpdir={tmp}",
            "--conf spark.ui.showConsoleProgress=false",
            f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            "pyspark-shell",
        ]
    )


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "strava_etl_public_spark")):
        print(
            f"perfbench: no strava_etl_public_spark package under {ROOT}; "
            "run from a checkout of the repository",
            file=sys.stderr,
        )
        return 2
    units = declared("per_layer" if args.trace else "end_to_end")
    work = os.path.join(HERE, "_work", f"{args.workload}-{os.getpid()}")
    isolate(work)
    sys.path[:0] = [ROOT, HERE]

    import bench  # the repository's bench harness: its foreign-CPU probe
    import spans as tr
    import workloads
    from strava_etl_public_spark import session

    tracer = tr.Tracer(bool(args.trace))
    if args.trace:
        tr.instrument(tracer)
    wl = workloads.WORKLOADS[args.workload](args.seed, args.scale, args.seconds, work, tracer)
    spark = None
    try:
        t = time.perf_counter()
        sizes = wl.generate()
        gen_s = time.perf_counter() - t

        t = time.perf_counter()
        spark = session.get_spark(cpus=tr.CORES)
        spark.sparkContext.setLogLevel("ERROR")
        tracer.bind(spark)
        session_s = time.perf_counter() - t
        wl.warm_up(spark)
        tracer.collect()
        setup_s = process_age_s() - gen_s
        print(
            f"setup: gen_s={gen_s:.2f} session_s={session_s:.2f} "
            f"warm_up_s={time.perf_counter() - t - session_s:.2f} setup_s={setup_s:.2f}",
            file=sys.stderr,
        )

        lat, failed, traced = [], 0, []
        probe = bench._foreign_probe_start()
        for i in range(wl.n_ops):
            # start every operation from a collected heap on both sides
            # of py4j, so a pause left over by the previous one does not
            # land in its time
            gc.collect()
            spark.sparkContext._jvm.System.gc()
            if args.trace:
                wl.before_trace()
            t = time.perf_counter()
            try:
                with tracer.op(i, wl.name) as root:
                    wl.op(spark)
                lat.append(time.perf_counter() - t)
            except Exception:
                failed += 1
                traceback.print_exc()
            if args.trace and root is not None:
                tracer.collect()
                row = tr.op_metrics(tracer, root, wl.last_rows, wl.source)
                row |= wl.after_trace(root)
                traced.append(row)

        foreign = bench._foreign_probe_end(probe)
        print(
            f"foreign CPU in the window: {foreign['foreign_busy_cores']} cores "
            f"(loadavg {foreign['loadavg_1m_end']})",
            file=sys.stderr,
        )
        if args.corrupt:
            wl.corrupt(spark)
        t = time.perf_counter()
        checks = wl.gate(spark)
        print(f"gate_s={time.perf_counter() - t:.2f}", file=sys.stderr)
        for name, ok, detail in checks:
            print(f"gate {name}: {'ok' if ok else 'FAILED'} ({detail})", file=sys.stderr)
        attempted = wl.n_ops + len(checks)
        failed += sum(not ok for _, ok, _ in checks)

        if args.trace:
            metrics = {"host.foreign_cores": foreign["foreign_busy_cores"] or 0.0}
            metrics |= per_layer(tracer, traced, failed / attempted, units)
        elif lat:
            metrics = {"setup_s": setup_s, "op_p50_s": statistics.median(lat)}
        else:
            metrics = {}
        out = {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items() if k in metrics},
        }
        report(wl, args, sizes, lat, failed, attempted)
        print(json.dumps(out))
        return 0 if failed == 0 else 1
    finally:
        if spark is not None:
            spark.stop()
            stop_jvm()
        shutil.rmtree(work, ignore_errors=True)


def stop_jvm() -> None:
    """End the session's JVM and wait for it. It exits when its stdin
    pipe closes, which otherwise happens only as this process exits,
    leaving the JVM running after the run has returned."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def per_layer(tracer, traced: list[dict], failed_frac: float, names) -> dict:
    """Run-level numbers, and the median over the traced operations of
    every other declared metric (0 where a layer did no work)."""
    import spans as tr

    setup_spans = [s for s in tracer.spans if s.name == "session.get_spark"]
    out = {
        "session.get_spark_s": setup_spans[0].dur if setup_spans else 0.0,
        "session.peak_rss_mb": tr.tree_peak_rss_mb(),
        "ops.failed_frac": failed_frac,
    }
    for name in names:
        if name not in out:
            vals = [row.get(name, 0.0) for row in traced]
            out[name] = statistics.median(vals) if vals else 0.0
    return out


def report(wl, args, sizes, lat, failed, attempted) -> None:
    """Human-readable summary on standard error."""
    print(
        f"{wl.name} seed={args.seed} scale={args.scale} inputs={sizes} "
        f"ops={len(lat)} "
        f"failed_ops_frac={failed / attempted:.4f} ({failed}/{attempted})",
        file=sys.stderr,
    )
    if lat:
        print(
            "op latencies (s): " + " ".join(f"{x:.3f}" for x in lat), file=sys.stderr
        )


if __name__ == "__main__":
    sys.exit(main())
