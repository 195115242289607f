"""Benchmark harness (driver contract — BASELINE.md).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON
line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is forced end-to-end with the noop sink (full computation,
no driver-side collect — the 100 TB-honest way to time a plan).

FAULT-ISOLATED: a single raising query records {"errors": {name: msg}}
and the rest still get timed — one bad plan must never zero the
round's entire perf record (round-3 lesson: q_sessionize raised in
warm-up and BENCH_r03 had no data at all).
"""

from __future__ import annotations

import json
import os
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
WARMUP_DIR = "/root/testdata/sf0.001"

#: Pinned previous-round close commit for the interleaved A/B protocol
#: (round-7 verdict #3): two +12%-style "regressions" in a row turned
#: out to be box drift that single-shot absolute numbers cannot
#: distinguish from plan regressions. Each round, bench.py times the
#: SAME headline queries from THIS tree and from this pinned commit
#: (checked out into a throwaway git worktree, loaded into the same
#: warm JVM) in alternating full passes — the paired per-query delta
#: cancels box drift because both sides see the same minute-scale load.
#: POLICY (r10 verdict #1): bump to the PREVIOUS round's close at
#: every round start — a stale pin restates "vs two rounds ago" and
#: stops adjudicating the current round's own effect. The old r8
#: anchor is kept for the long-series view (informational only).
PREV_BENCH_COMMIT = "0f2c0b21119eb6b46e0884d161ec74c4e5079639"  # r13 close
ANCHOR_BENCH_COMMIT = "a245fbeac876d5de4203e1f13321b20846d84070"  # r8 anchor

#: Idle-box gate for the OFFICIAL headline number (round-8 verdict
#: #2): the absolute series went 26.04 → 29.07 → 33.86 s across three
#: rounds while the paired A/B showed the code getting FASTER — the
#: headline was recorded under loadavg 9.6 and stopped being a usable
#: record. Refuse to start the timed section while the 1-minute
#: loadavg exceeds the threshold, retrying with a backoff; if the box
#: never goes idle within the budget, still run (the driver needs a
#: number) but mark the headline "official": false so nobody reads a
#: contended number as a regression. Both knobs are env-overridable.
LOADAVG_THRESHOLD = float(os.environ.get("SPARK_GRAFT_BENCH_MAX_LOAD", "2.0"))
LOADAVG_WAIT_BUDGET_S = float(os.environ.get("SPARK_GRAFT_BENCH_LOAD_WAIT", "300"))


def _wait_for_idle_box() -> dict:
    """Block until loadavg_1m <= LOADAVG_THRESHOLD or the wait budget
    runs out. Returns {"loadavg_1m_start", "waited_s", "official"}."""
    waited = 0.0
    try:
        load = os.getloadavg()[0]
    except OSError:
        return {"loadavg_1m_start": None, "waited_s": 0.0, "official": False}
    while load > LOADAVG_THRESHOLD and waited < LOADAVG_WAIT_BUDGET_S:
        step = min(30.0, LOADAVG_WAIT_BUDGET_S - waited)
        time.sleep(step)
        waited += step
        load = os.getloadavg()[0]
    return {
        "loadavg_1m_start": round(load, 2),
        "waited_s": round(waited, 1),
        "official": load <= LOADAVG_THRESHOLD,
    }


#: Mid-run contamination gate (round-9 verdict #6): the start-only
#: loadavg check left a hole — r9's official run STARTED at loadavg
#: 1.74 but ENDED at 7.02, so a burst of foreign work mid-run could
#: still contaminate an "official" absolute. End-of-run loadavg can't
#: be the criterion directly (the bench itself legitimately loads all
#: 32 cores, so its own tasks dominate the 1-minute average); what
#: must be bounded is FOREIGN work. Measured directly: busy jiffies
#: from /proc/stat minus the CPU consumed by THIS process tree
#: (python driver + Spark JVM + forked workers, summed from
#: /proc/<pid>/stat over descendants) across the timed window. A run
#: stays official only if foreign work averaged under
#: FOREIGN_CORES_THRESHOLD cores — one stray core on a 32-way box is
#: ~3% wall-time risk; a competing benchmark shows up as 10+.
FOREIGN_CORES_THRESHOLD = float(
    os.environ.get("SPARK_GRAFT_BENCH_MAX_FOREIGN_CORES", "1.0")
)


def _cpu_freq_thermal() -> dict:
    """One sample of CPU frequency + thermal state (r11 verdict #1b):
    three rounds of absolute-headline drift were invisible to BOTH
    loadavg gates because frequency scaling / thermal throttling /
    page-cache state don't show up as load. This doesn't gate
    ``official`` (a slow-but-quiet box still produces valid PAIRED
    deltas); it RECORDS the state so a drifted absolute is explicable
    from the artifact alone. Best-effort: containers often hide
    cpufreq — every field may be None."""
    import glob

    out: dict = {"mhz_mean": None, "mhz_min": None, "mhz_max": None,
                 "temp_c_max": None}
    freqs: list[float] = []
    for p in glob.glob(
        "/sys/devices/system/cpu/cpu*/cpufreq/scaling_cur_freq"
    ):
        try:
            with open(p) as f:
                freqs.append(int(f.read().strip()) / 1000.0)
        except (OSError, ValueError):
            continue
    if not freqs:
        # fall back to /proc/cpuinfo "cpu MHz" lines
        try:
            with open("/proc/cpuinfo") as f:
                for line in f:
                    if line.lower().startswith("cpu mhz"):
                        freqs.append(float(line.split(":")[1]))
        except (OSError, ValueError, IndexError):
            pass
    if freqs:
        out["mhz_mean"] = round(sum(freqs) / len(freqs), 1)
        out["mhz_min"] = round(min(freqs), 1)
        out["mhz_max"] = round(max(freqs), 1)
    temps: list[float] = []
    for p in glob.glob("/sys/class/thermal/thermal_zone*/temp"):
        try:
            with open(p) as f:
                temps.append(int(f.read().strip()) / 1000.0)
        except (OSError, ValueError):
            continue
    if temps:
        out["temp_c_max"] = round(max(temps), 1)
    return out


def _busy_jiffies() -> int | None:
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()
        # user nice system irq softirq steal guest... — everything but
        # idle(4) and iowait(5) counts as busy
        vals = [int(x) for x in parts[1:]]
        return sum(vals) - vals[3] - vals[4]
    except (OSError, ValueError, IndexError):
        return None


def _tree_cpu_jiffies() -> int | None:
    """utime+stime summed over this process and all its descendants
    (the Spark JVM and its forked Python workers), from /proc — the
    bench's OWN share of the box."""
    try:
        children: dict[int, list[int]] = {}
        cpu: dict[int, int] = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as f:
                    s = f.read()
            except OSError:
                continue  # raced a process exit
            # field 2 (comm) may contain spaces/parens — parse after it
            rest = s[s.rindex(")") + 2 :].split()
            pid = int(entry)
            children.setdefault(int(rest[1]), []).append(pid)  # ppid
            cpu[pid] = int(rest[11]) + int(rest[12])  # utime+stime
        total = 0
        stack = [os.getpid()]
        seen = set()
        while stack:
            p = stack.pop()
            if p in seen:
                continue
            seen.add(p)
            total += cpu.get(p, 0)
            stack.extend(children.get(p, []))
        return total
    except (OSError, ValueError):
        return None


def _foreign_probe_start() -> dict:
    return {
        "t0": time.monotonic(),
        "busy0": _busy_jiffies(),
        "tree0": _tree_cpu_jiffies(),
    }


def _foreign_probe_end(p0: dict) -> dict:
    """{"foreign_busy_cores", "loadavg_1m_end", "clean"} for the window
    since ``p0``. Unmeasurable (non-Linux /proc) → clean=False: an
    official record requires the POSITIVE measurement."""
    wall = time.monotonic() - p0["t0"]
    busy1, tree1 = _busy_jiffies(), _tree_cpu_jiffies()
    try:
        load_end = round(os.getloadavg()[0], 2)
    except OSError:
        load_end = None
    if None in (p0["busy0"], p0["tree0"], busy1, tree1) or wall <= 0:
        return {"foreign_busy_cores": None, "loadavg_1m_end": load_end, "clean": False}
    hz = os.sysconf("SC_CLK_TCK") or 100
    foreign = max(0, (busy1 - p0["busy0"]) - (tree1 - p0["tree0"])) / hz / wall
    return {
        "foreign_busy_cores": round(foreign, 2),
        "loadavg_1m_end": load_end,
        "clean": foreign <= FOREIGN_CORES_THRESHOLD,
    }

#: Headline set: the reference's analytical heart (spine join +
#: interpolation + weighted rolling + wide max), the relational
#: bench shapes, the north-star training-data operators, and (r6) the
#: two fused end-to-end pipelines — the numbers a real user pays.
#: The pipelines moved here from extras with spread fields; totals are
#: re-baselined in SCALE.md (r5's 15.89 s covered 16 queries, not 18).
HEADLINE = [
    "flagship_rolling_max",
    "w2_interpolate_linear",
    "g2_rolling_maxes_wide",
    "g4_n7_nested_assembly",
    "q1_pricing_summary",
    "q3_revenue_join",
    "q_ranking_topk",
    "q_sessionize",
    "x_dedup_exact",
    "x_dedup_minhash_lsh",
    "x_sim_topk_brute_arrow",
    "x_sim_topk_lsh_arrow",
    "x_sim_topk_ivf_arrow",
    "x_text_lang_id",
    "x_text_quality",
    "x_text_tfidf",
    "x_pipeline_activity_e2e",
    "x_pipeline_corpus_filter",
]


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _time_best_of(fn, runs: int = 3) -> float:
    """best-of-N: JIT/GC noise on a shared box measured up to 3x on
    identical plans; the min is the plan's honest cost."""
    best = float("inf")
    for _ in range(runs):
        t0 = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t0)
    return round(best, 3)


def _time_with_spread(fn, runs: int = 3) -> dict:
    """Timing + spread evidence (round-5 bench-variance discipline,
    tightened r7 per VERDICT #8): every query gets >=3 runs so
    round-over-round deltas can be read off MEDIANS instead of
    adjudicated as best-of noise. Returns {best, median, runs}."""
    samples = []
    for _ in range(runs):
        t0 = time.perf_counter()
        fn()
        samples.append(time.perf_counter() - t0)
    samples.sort()
    n = len(samples)
    med = samples[n // 2] if n % 2 else (samples[n // 2 - 1] + samples[n // 2]) / 2
    return {"best": round(samples[0], 3), "median": round(med, 3), "runs": n}


def _load_registry(repo_dir: str) -> dict:
    """Import ``__spark_entry__`` + the extras registry from
    ``repo_dir``, isolated from whatever version is currently loaded:
    purge the package modules, put ``repo_dir`` first on sys.path,
    import, and hand back the merged {name: fn} dict. The returned
    callables CLOSE OVER their own module objects, so two versions'
    registries coexist in one process (and one warm JVM) — the whole
    point of the A/B protocol."""
    purge = [
        k
        for k in sys.modules
        if k == "__spark_entry__" or k.startswith("strava_etl_public_spark")
    ]
    for k in purge:
        del sys.modules[k]
    sys.path.insert(0, repo_dir)
    try:
        import __spark_entry__ as E2
        from strava_etl_public_spark.queries import EXTRA_QUERIES as X2

        qs = dict(X2)
        qs.update(E2.queries())
        return qs
    finally:
        sys.path.remove(repo_dir)


def _checkout(ref: str) -> str:
    """Check ``ref`` out into a fresh detached git worktree under the
    temp dir and return its path (release it with :func:`_release`)."""
    import subprocess
    import tempfile

    path = tempfile.mkdtemp(prefix="bench_ab_")
    subprocess.run(
        ["git", "-C", HERE, "worktree", "add", "--detach", path, ref],
        check=True, capture_output=True, text=True,
    )
    return path


def _release(path: str) -> None:
    import shutil
    import subprocess

    shutil.rmtree(path, ignore_errors=True)
    subprocess.run(
        ["git", "-C", HERE, "worktree", "prune"], check=False, capture_output=True
    )


def paired_ab(base: dict, head: dict, names: list, pairs: int, leg) -> dict:
    """The order-balanced paired A/B loop: ``pairs`` rounds over
    ``names``; ``leg(fn)`` runs one registry entry and returns its wall
    seconds. Returns {"paired_delta_pct", "min_delta_pct",
    "block_delta_pct", "block_ci90_pct", "paired_detail"}, each keyed
    by query name; deltas are head relative to base in %, negative =
    head faster.

    Query-level adjacency: the base and head legs of the SAME query
    run back-to-back, so a transient load burst lands on (at most) one
    pair of one query instead of poisoning an entire side's leg for
    every query (one multi-second burst once inflated 15/18 medians).
    Order-balanced within the pair: a FIXED (base, head) order hands
    head the hot-adjacency slot — the run immediately after an
    identical plan reuses its JIT-compiled codegen classes and
    page-cache state — and a null test (HEAD vs HEAD, scripts/ab.py
    --base HEAD) measured that slot alone worth −15…−24% "improvement"
    on identical code. Alternating which side runs first per pair
    gives each side the slot equally often (exactly, for an even
    ``pairs``). The per-pair deltas then fall into two order modes of
    opposite sign, and the median of an even count averages one value
    from each mode, so it reads the slot advantage as noise, not as
    zero: a null test read −14.4% then +6.2%.

    ``block_delta_pct`` cancels the slot instead. A block is pair 2k
    (base first) plus pair 2k+1 (head first); its log-ratio
    ``½·(ln h₁/b₁ + ln h₂/b₂)`` removes any multiplicative advantage
    of the second slot exactly. It is the median over blocks (the
    last pair of an odd count is dropped), with ``block_ci90_pct`` a
    90% percentile-bootstrap interval of that median; a delta whose
    interval holds 0 is not resolved."""
    import math
    import statistics

    samples = {n: {"base": [], "head": []} for n in names}
    for p in range(pairs):
        for n in names:
            legs = (("base", base[n]), ("head", head[n]))
            if p % 2 == 1:
                legs = legs[::-1]
            for side, fn in legs:
                samples[n][side].append(leg(fn))

    def pct(log_ratio: float) -> float:
        return round(math.expm1(log_ratio) * 100.0, 1)

    out: dict = {
        "paired_delta_pct": {}, "min_delta_pct": {},
        "block_delta_pct": {}, "block_ci90_pct": {}, "paired_detail": {},
    }
    for n, s in samples.items():
        b, h = s["base"], s["head"]
        per_pair = [(hh - bb) / bb * 100.0 for bb, hh in zip(b, h)]
        out["paired_delta_pct"][n] = round(statistics.median(per_pair), 1)
        lr = [math.log(hh) - math.log(bb) for bb, hh in zip(b, h)]
        blocks = [(lr[i] + lr[i + 1]) / 2 for i in range(0, len(lr) - 1, 2)]
        if blocks:
            out["block_delta_pct"][n] = pct(statistics.median(blocks))
            out["block_ci90_pct"][n] = [pct(v) for v in _bootstrap_ci90(blocks)]
        # min-vs-min: contention only ever ADDS time, so the minimum
        # over pairs is each side's least-contaminated sample — the
        # robust estimator when any single pair may be poisoned
        out["min_delta_pct"][n] = round((min(h) - min(b)) / min(b) * 100.0, 1)
        out["paired_detail"][n] = {
            "delta_pct_pairs": [round(d, 1) for d in per_pair],
            "base_s": [round(v, 3) for v in b],
            "head_s": [round(v, 3) for v in h],
        }
    return out


def _bootstrap_ci90(xs: list, resamples: int = 2000, seed: int = 0) -> tuple:
    """90% percentile-bootstrap interval of ``median(xs)`` (fixed seed,
    so the same samples always give the same interval)."""
    import random
    import statistics

    rng = random.Random(seed)
    meds = sorted(
        statistics.median(rng.choices(xs, k=len(xs))) for _ in range(resamples)
    )
    return meds[int(0.05 * resamples)], meds[int(0.95 * resamples) - 1]


def _timed_leg(spark, sf_dir: str):
    """``leg`` for :func:`paired_ab`: force one query end-to-end with
    the noop sink at ``sf_dir`` and return its wall seconds."""

    def leg(fn) -> float:
        t0 = time.perf_counter()
        _noop(fn(spark, sf_dir))
        return time.perf_counter() - t0

    return leg


def _ab_protocol(spark, head_qs: dict, names: list, errors: dict) -> dict:
    """Interleaved paired comparison vs PREV_BENCH_COMMIT (round-7
    verdict #3) through :func:`paired_ab`. Returns {prev_commit, pairs,
    loadavg, n_processes} and the :func:`paired_ab` keys — empty-ish
    with an error recorded if the worktree or prev import fails (the
    main bench must survive a broken A/B leg)."""
    out: dict = {"prev_commit": PREV_BENCH_COMMIT, "pairs": 0}
    try:
        out["loadavg_1m"] = round(os.getloadavg()[0], 2)
        out["n_processes"] = len([p for p in os.listdir("/proc") if p.isdigit()])
    except OSError:
        pass
    try:
        wt = _checkout(PREV_BENCH_COMMIT)
    except Exception as e:  # noqa: BLE001
        errors["ab_protocol"] = f"{type(e).__name__}: {e}"
        return out
    try:
        prev_qs = _load_registry(wt)
        _load_registry(HERE)  # restore HEAD modules for later importers
        # one warm-up pass for the prev side (HEAD is already warm)
        paired = []
        for n in names:
            if n not in prev_qs or n not in head_qs:
                continue
            try:
                _noop(prev_qs[n](spark, WARMUP_DIR))
                paired.append(n)
            except Exception as e:  # noqa: BLE001
                errors[f"ab_warmup:{n}"] = f"{type(e).__name__}: {e}"
        spark.catalog.clearCache()
        n_pairs = 4
        out.update(
            paired_ab(prev_qs, head_qs, paired, n_pairs, _timed_leg(spark, SF_DIR))
        )
        out["pairs"] = n_pairs
    except Exception as e:  # noqa: BLE001
        errors["ab_protocol_run"] = f"{type(e).__name__}: {e}"
        return out
    finally:
        _release(wt)
    try:
        out["loadavg_1m_end"] = round(os.getloadavg()[0], 2)
    except OSError:
        pass
    return out


def _duckdb_anchor(names: list, errors: dict) -> dict:
    """Wall-clock of each headline query's DuckDB oracle SQL at
    SF_DIR, best of 2 (first run warms the buffer pool / plans).
    Queries without a registered oracle (rows-only gates) are
    skipped; a single bad oracle is fault-isolated. A 120 s
    interrupt bounds the whole section's worst case."""
    import threading

    try:
        import duckdb

        import __spark_entry__ as E
        from strava_etl_public_spark.queries import EXTRA_ORACLES

        oracles = dict(EXTRA_ORACLES)
        oracles.update(E.oracle_sql())
    except Exception as e:  # noqa: BLE001
        errors["duckdb_anchor"] = f"{type(e).__name__}: {e}"
        return {}

    tables = (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split()
    out: dict[str, float] = {}
    try:
        conn = duckdb.connect()
        for t in tables:
            p = os.path.join(SF_DIR, f"{t}.parquet")
            if os.path.exists(p):
                conn.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')"
                )
    except Exception as e:  # noqa: BLE001
        errors["duckdb_anchor"] = f"{type(e).__name__}: {e}"
        return {}
    for n in names:
        sql = oracles.get(n)
        if sql is None:
            continue
        try:
            best = float("inf")
            for _ in range(2):
                timer = threading.Timer(120.0, conn.interrupt)
                timer.start()
                try:
                    t0 = time.perf_counter()
                    conn.execute(sql).fetchall()
                    best = min(best, time.perf_counter() - t0)
                finally:
                    timer.cancel()
            out[n] = round(best, 3)
        except Exception as e:  # noqa: BLE001
            errors[f"duckdb:{n}"] = f"{type(e).__name__}: {e}"
    conn.close()
    return out


#: Secondary extras timed after the headline window, each fault-
#: isolated (JVM-fold ANN twins, curation operators and others whose
#: spread a round wants on record). Every name must be registered:
#: ``main`` raises on one that is not, so a renamed or deleted extra
#: cannot silently drop its row.
SECONDARY_EXTRAS = (
    "x_sim_topk_lsh",
    "x_sim_topk_ivf",
    "x_range_join_sessions",
    "x_embed_quantize_int8",
    # sixth-to-eighth batch curation operators (the heavy graph row
    # — x_graph_triangles 50 s at sf0.1 — is measured once in
    # SCALE.md, not re-paid per round)
    "x_shard_manifest",
    "x_embed_covariance",
    "x_mm_audio_stats",
    "x_geo_radius_join",
    # fifteenth-sixteenth batch (r7)
    "x_sim_knn_join",
    "x_mm_gif_frames",
    # seventeenth batch (late r7) — x_mm_jpeg_stats (51 s at
    # sf0.1: pure-Python DCT decode of 5000 real JPEGs) follows
    # the heavy-row convention: measured once in SCALE.md, not
    # re-paid per round
    "x_feature_trailing_window",
    "x_pipeline_curation",
    "x_text_span_removal",
    "x_text_hybrid_retrieval",
)


def main() -> int:
    import __spark_entry__ as E
    from strava_etl_public_spark.session import get_spark

    spark = get_spark(app_name="bench")
    from strava_etl_public_spark.queries import EXTRA_QUERIES as _EXTRAS

    qs = dict(_EXTRAS)
    qs.update(E.queries())  # driver-exported queries win name clashes
    names = [n for n in HEADLINE if n in qs]
    unregistered = [n for n in SECONDARY_EXTRAS if n not in qs]
    if unregistered:  # before any timing, not after the headline window
        raise KeyError(f"SECONDARY_EXTRAS not registered: {unregistered}")
    errors: dict[str, str] = {}

    # JVM/codegen warm-up on the smallest fixture (not timed): every
    # headline query once, so sf0.1 timings measure the plan, not
    # first-use JIT/codegen compilation of whichever query runs first.
    # A query that raises here is excluded from the timed loop but the
    # bench keeps going.
    ok: list[str] = []
    for n in names:
        try:
            _noop(qs[n](spark, WARMUP_DIR))
            ok.append(n)
        except Exception as e:  # noqa: BLE001 — fault isolation is the point
            errors[n] = f"{type(e).__name__}: {e}"
            traceback.print_exc(file=sys.stderr)
        finally:
            spark.catalog.clearCache()

    # Idle-box gate (r8 verdict #2): the official headline number is
    # only recorded on a quiet box; a contended run is annotated
    # official=false instead of silently poisoning the absolute series.
    idle = _wait_for_idle_box()
    probe0 = _foreign_probe_start()
    freq_start = _cpu_freq_thermal()

    timings: dict[str, float] = {}
    spread: dict[str, dict] = {}
    for n in ok:
        try:
            st = _time_with_spread(lambda: _noop(qs[n](spark, SF_DIR)))
            timings[n] = st["best"]
            spread[n] = st
        except Exception as e:  # noqa: BLE001
            errors[n] = f"{type(e).__name__}: {e}"
            traceback.print_exc(file=sys.stderr)

    # mid-run contamination check over exactly the headline window
    # (r9 verdict #6): foreign CPU, not end-loadavg — the bench's own
    # 32-way work legitimately dominates the load average
    foreign = _foreign_probe_end(probe0)
    freq_end = _cpu_freq_thermal()

    # Extras, each independently fault-isolated:
    #  - JVM-fold ANN twins (what the no-Arrow fallback costs)
    #  - IVF build/probe SPLIT: at scale the index is built once and
    #    amortized over many probe batches, so the steady-state serving
    #    cost is the probe number; build+probe stays the headline row.
    extras: dict[str, float] = {}
    extras_spread: dict[str, dict] = {}

    for n in SECONDARY_EXTRAS:
        fn = qs[n]  # merged extras+driver registry (checked above)
        try:
            _noop(fn(spark, WARMUP_DIR))
            spark.catalog.clearCache()
            st = _time_with_spread(lambda: _noop(fn(spark, SF_DIR)))
            extras[n] = st["best"]
            extras_spread[n] = st
        except Exception as e:  # noqa: BLE001
            errors[n] = f"{type(e).__name__}: {e}"
            traceback.print_exc(file=sys.stderr)

    try:
        from strava_etl_public_spark.io import load
        from strava_etl_public_spark.operators import similarity as S

        emb = load(spark, SF_DIR, "embeddings")
        q = emb.orderBy("vec_id").limit(8).select("vec_id")

        built: dict = {}

        def build():
            cents, corpus = S.build_ivf_index_arrow(
                emb, "vec_id", "embedding", n_centroids=16, refine_iters=1
            )
            _noop(corpus)
            built["idx"] = (cents, corpus)

        extras["x_sim_ivf_build"] = _time_best_of(build)
        cents, corpus = built["idx"]  # reuse the last timed build
        cents = cents.persist()
        corpus = corpus.persist()
        cents.count(), corpus.count()  # materialize the index
        extras["x_sim_ivf_probe"] = _time_best_of(
            lambda: _noop(
                S.cosine_topk_ivf_arrow(
                    emb, q, "vec_id", "embedding", k=5, nprobe=8,
                    index=(cents, corpus),
                )
            )
        )
        cents.unpersist(), corpus.unpersist()
    except Exception as e:  # noqa: BLE001
        errors["x_sim_ivf_split"] = f"{type(e).__name__}: {e}"
        traceback.print_exc(file=sys.stderr)

    # Recall GATE for the ANN paths (not timed): ANN speed is only
    # meaningful next to measured recall vs the exact baseline at the
    # SAME scale factor. The floor is a hard failure — a recall
    # regression must fail the bench run, not just dent a number in a
    # report nobody re-reads (round-2 verdict item). Gate errors are
    # themselves isolated so a broken gate can't zero the timings.
    # Round-5 knee configs (scripts/scale.py ann_tune): LSH 4x12 and IVF
    # nprobe=8/iters=1 both measure 0.9 at sf0.1 — the floor buys 0.1
    # of regression margin instead of r4's 0.025.
    RECALL_FLOOR = 0.8
    recall: dict[str, float] = {}
    gate_failed = False
    try:
        truth = {
            tuple(r)
            for r in qs["x_sim_topk_brute_arrow"](spark, SF_DIR)
            .select("q_id", "n_id")
            .collect()
        }
        for n in ("x_sim_topk_lsh_arrow", "x_sim_topk_ivf_arrow"):
            got = {
                tuple(r)
                for r in qs[n](spark, SF_DIR).select("q_id", "n_id").collect()
            }
            recall[n] = round(len(truth & got) / len(truth), 3)
            if recall[n] < RECALL_FLOOR:
                gate_failed = True
                errors[f"recall_gate:{n}"] = (
                    f"recall {recall[n]} < floor {RECALL_FLOOR}"
                )
    except Exception as e:  # noqa: BLE001
        # an unevaluable gate is a FAILED gate (exit nonzero), not a
        # bypassed one — but only after the JSON line is emitted, so
        # the timings survive either way
        errors["recall_gate"] = f"{type(e).__name__}: {e}"
        gate_failed = True
        traceback.print_exc(file=sys.stderr)

    # DuckDB wall-clock anchor (r10 verdict #5): the reference
    # publishes no perf numbers (RPC-bound, SURVEY §6), so the series
    # self-references. Timing each headliner's ORACLE SQL in DuckDB at
    # the same sf on the same box anchors the bench to an independent
    # engine — not a target to beat (DuckDB is a single-node OLAP
    # engine with zero distribution overhead; Spark pays JVM+shuffle
    # machinery for horizontal scale), but a sanity ratio: a Spark
    # query 10× slower than its DuckDB twin deserves a named reason.
    duckdb_s = _duckdb_anchor(ok, errors)

    # Interleaved A/B vs the pinned previous-round commit (verdict #3):
    # paired per-query deltas in the SAME session cancel box drift —
    # a +12% uniform shift shows up as ~0% paired delta.
    ab = _ab_protocol(spark, qs, ok, errors)

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf

    # Detail (spread/extras/recall/errors) goes to the BENCH_DETAIL.json
    # sidecar only; stdout carries just the compact contract line so
    # a consumer that keeps a bounded stdout tail always parses it
    # (round-6 lesson: the single giant line outgrew the window and
    # BENCH_r06.json recorded "parsed": null — the official headline
    # number survived only by reconstruction from fragments).
    detail = {
        "metric": "bench_detail",
        # the official single-shot timings dict VERBATIM (r13, verdict
        # #4): the final stdout headline can be lost to a tail-capture
        # truncation, so the checked-in sidecar must carry everything
        # a SURVEY claim needs on its own
        "timings": timings,
        "spread": spread,
        "extras": extras,
        "extras_spread": extras_spread,
        "recall": recall,
        "errors": errors,
        "ab": ab,
        "duckdb_s": duckdb_s,
        "cpu_freq_start": freq_start,
        "cpu_freq_end": freq_end,
        "sf": sf_val,
    }

    # THE headline (r11 verdict #1a): the paired-vs-prev-close median
    # delta — the only number in this artifact that is comparable
    # across rounds. Three consecutive rounds of absolute-total
    # "regressions" (23.96 → 26.57 → 31.86 s) were each later proven
    # environmental (frequency/thermal/page-cache drift the loadavg
    # gates cannot see) while the paired delta adjudicated correctly
    # every time. The absolute total stays below as CONTEXT
    # ("value", kept for the driver contract), not as the series.
    import statistics as _stats

    _pd = [v for v in ab.get("paired_delta_pct", {}).values()
           if isinstance(v, (int, float))]
    # a TRUE median (r13 verdict #4: the old upper-middle pick printed
    # +1.4 while the median of the same published per-query deltas was
    # −0.75 — the headline must equal the median of its own numbers)
    paired_median = round(_stats.median(_pd), 2) if _pd else None

    # DuckDB-anchor-normalized totals (r13 verdict #2): absolute
    # seconds drift 2–12× across sessions at identical reported MHz,
    # so the self-calibrating context number is the ratio of Spark's
    # total to DuckDB's total for the SAME queries on the SAME box in
    # the SAME session. Not a target to beat (DuckDB pays no JVM or
    # distribution machinery) — a drift-corrected series anchor.
    _common = [n for n in timings if n in duckdb_s and duckdb_s[n] > 0]
    duckdb_total = round(sum(duckdb_s[n] for n in _common), 3)
    anchor_ratio = (
        round(sum(timings[n] for n in _common) / duckdb_total, 3)
        if _common and duckdb_total > 0 else None
    )
    out = {
        "metric": "headline_queries_total",
        "headline_metric": "paired_median_delta_pct_vs_prev_close",
        "headline_value": paired_median,
        "headline_note": (
            "negative = this tree is faster than the pinned previous "
            "round close under identical load; the absolute 'value' "
            "below is box-state context, not a comparable series"
        ),
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf_val,
        # self-adjudicating round-over-round comparison (verdict #3):
        # median paired delta per query vs the pinned previous-round
        # commit, measured interleaved in this same session. These
        # stay on the contract line so the headline is checkable
        # against the numbers it is the median OF; the bulkier
        # per-query blocks (min_delta_pct, duckdb_s, spread, freq)
        # live in the BENCH_DETAIL.json sidecar (r13
        # verdict #2/#3: BENCH_r12's one-line JSON outgrew the
        # driver's tail-capture window, parsed null, and orphaned the
        # whole round's PERF alignment).
        "prev_commit": ab.get("prev_commit"),
        "paired_delta_pct": ab.get("paired_delta_pct", {}),
        # slot-cancelling per-block estimate and its 90% bootstrap
        # interval (see paired_ab)
        "block_delta_pct": ab.get("block_delta_pct", {}),
        "block_ci90_pct": ab.get("block_ci90_pct", {}),
        "loadavg_1m": ab.get("loadavg_1m"),
        "n_processes": ab.get("n_processes"),
        # idle-box gate evidence (r8 verdict #2) + mid-run foreign-CPU
        # gate (r9 verdict #6): official now requires BOTH a quiet
        # start AND measured-foreign work under threshold across the
        # headline window — false means "read the paired deltas, not
        # the total".
        "loadavg_1m_start": idle["loadavg_1m_start"],
        "idle_waited_s": idle["waited_s"],
        "loadavg_1m_end": foreign["loadavg_1m_end"],
        "foreign_busy_cores": foreign["foreign_busy_cores"],
        "official": idle["official"] and foreign["clean"],
        # DuckDB-anchor normalization (r13 verdict #2): scalar total +
        # ratio make the artifact self-calibrating against box drift;
        # the per-query duckdb_s block lives in the detail/sidecar
        "duckdb_total_s": duckdb_total,
        "anchor_ratio_spark_over_duckdb": anchor_ratio,
    }
    if errors:
        # names only — full messages live in the detail line/sidecar
        out["errors"] = sorted(errors)
    # sidecar carries detail + the FULL headline (r13, verdict #4):
    # BENCH_r{N} artifacts are reconstructed from a bounded stdout
    # tail, so the self-contained record lives in the repo file
    detail["headline"] = out
    try:
        with open(os.path.join(HERE, "BENCH_DETAIL.json"), "w") as f:
            json.dump(detail, f, indent=1)
    except OSError:
        pass  # sidecar is best-effort; the contract line still prints
    # the compact headline is the LAST stdout line — paired median,
    # official flag, freq fields all present even under tail capture
    print(json.dumps(out))
    spark.stop()
    # Distinct exit codes, always AFTER the JSON line: 2 = recall gate
    # failed, 1 = some query errored (rc-only consumers must not read a
    # crashed-but-isolated query as a pass — ADVICE r4), 0 = clean.
    if gate_failed:
        return 2
    return 1 if errors else 0


if __name__ == "__main__":
    raise SystemExit(main())
