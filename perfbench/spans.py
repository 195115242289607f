"""Traced-run support: spans around calls into the library's layers,
Spark jobs tagged with the span that submitted them, and per-stage
metrics read back from Spark's status store.

Spans are recorded from the benchmark's side only: :func:`instrument`
replaces the public functions of each layer module (and the
``ManagedTable`` methods the workloads use) with timing wrappers for
the length of the traced run, so calls made through the module — from
the benchmark or from another library module — open a span. Nothing
inside the library changes.

Every span sets its own Spark job group, so each job belongs to the
innermost span open when it was submitted. After each timed operation
(outside its timed window) :meth:`Tracer.collect` drains Spark's
listener bus and reads, for the operation's jobs, the stage metrics of
the status store and the physical plans of its SQL executions. Spans
stay in memory until the run ends.
"""

from __future__ import annotations

import functools
import inspect
import itertools
import os
import re
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

#: modules whose public functions get a span each, by layer name, and
#: the functions to wrap (None: every public function the module defines)
LAYER_MODULES = {
    "session": ("strava_etl_public_spark.session", None),
    "queries": ("strava_etl_public_spark.queries", ("streams",)),
    "incremental": ("strava_etl_public_spark.operators.incremental", None),
    "resample": ("strava_etl_public_spark.operators.resample", None),
    "rolling": ("strava_etl_public_spark.operators.rolling", None),
    "assemble": ("strava_etl_public_spark.operators.assemble", None),
    "dedup": ("strava_etl_public_spark.operators.dedup", None),
    "text": ("strava_etl_public_spark.operators.text", None),
}
TABLE_METHODS = ("create", "read", "append", "history")
#: job group of the tracer's own Spark calls, so they count for no layer
TRACE_GROUP = "perfbench-trace"
#: local[CORES]: every workload runs on four cores
CORES = 4


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    layer: str
    op: int | None
    t0: float
    t1: float = 0.0
    attrs: dict = field(default_factory=dict)
    jobs: list = field(default_factory=list)
    stages: dict = field(default_factory=dict)
    sql_plans: list = field(default_factory=list)

    @property
    def group(self) -> str:
        return f"perfbench-span-{self.id}"

    @property
    def dur(self) -> float:
        return self.t1 - self.t0


class Tracer:
    """In-memory span recorder; inert (every call a no-op) when
    ``enabled`` is false, which is how the untraced runs use it."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.sc = None
        self._ids = itertools.count(1)
        self._stack: list[Span] = []
        self._op: int | None = None
        self._collected = 0

    def bind(self, spark) -> None:
        self.sc = spark.sparkContext

    def _set_group(self, group: str | None) -> None:
        if self.sc is None:
            return
        if group is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(group, group)

    @contextmanager
    def span(self, name: str, layer: str | None = None):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(
            next(self._ids),
            parent.id if parent else None,
            name,
            layer or name.split(".")[0],
            self._op,
            time.perf_counter(),
        )
        self._stack.append(s)
        self._set_group(s.group)
        try:
            yield s
        finally:
            s.t1 = time.perf_counter()
            self._stack.pop()
            self._set_group(self._stack[-1].group if self._stack else None)
            self.spans.append(s)

    @contextmanager
    def op(self, index: int, name: str):
        """A timed operation: the root span of everything it calls."""
        self._op = index
        try:
            with self.span(name, layer="op") as s:
                yield s
        finally:
            self._op = None

    @contextmanager
    def quiet(self):
        """Spark calls the tracer itself makes, tagged so no layer
        is charged for them."""
        if not self.enabled:
            yield
            return
        self._set_group(TRACE_GROUP)
        try:
            yield
        finally:
            self._set_group(self._stack[-1].group if self._stack else None)

    # -- status store ------------------------------------------------------

    def collect(self) -> None:
        """Attach jobs, stage metrics and SQL plans to every span
        recorded since the last call."""
        if not self.enabled or self.sc is None:
            return
        new = self.spans[self._collected:]
        self._collected = len(self.spans)
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        job_span: dict[int, Span] = {}
        for s in new:
            s.jobs = sorted(tracker.getJobIdsForGroup(s.group))
            for j in s.jobs:
                job_span[j] = s
                for sid in _seq(store.job(j).stageIds()):
                    st = store.lastStageAttempt(sid)
                    if st.status().toString() != "COMPLETE":
                        continue  # skipped: its shuffle output was reused
                    s.stages[sid] = {
                        "tasks": st.numCompleteTasks(),
                        "run_s": st.executorRunTime() / 1e3,
                        "cpu_s": st.executorCpuTime() / 1e9,
                        "gc_s": st.jvmGcTime() / 1e3,
                        "input_records": st.inputRecords(),
                        "shuffle_write_mb": st.shuffleWriteBytes() / 2**20,
                        "spill_mb": (st.memoryBytesSpilled() + st.diskBytesSpilled())
                        / 2**20,
                    }
        if not job_span:
            return
        sql = self.sc._jvm.org.apache.spark.sql.SparkSession.active()
        for ex in _seq(sql.sharedState().statusStore().executionsList()):
            ids = [int(k) for k in _seq(ex.jobs().keys())]
            owner = next((job_span[j] for j in ids if j in job_span), None)
            if owner is not None:
                owner.sql_plans.append(ex.physicalPlanDescription())


def _seq(jseq) -> list:
    it = jseq.iterator()
    out = []
    while it.hasNext():
        out.append(it.next())
    return out


# -- instrumentation ---------------------------------------------------------


def instrument(tracer: Tracer) -> None:
    """Wrap each layer module's public functions, and the
    ``ManagedTable`` methods in :data:`TABLE_METHODS`, in spans."""
    import importlib

    from strava_etl_public_spark.operators import table as table_mod

    for layer, (modname, names) in LAYER_MODULES.items():
        mod = importlib.import_module(modname)
        for name, fn in list(vars(mod).items()):
            if (
                name.startswith("_")
                or not inspect.isfunction(fn)
                or fn.__module__ != modname
                or (names is not None and name not in names)
            ):
                continue
            full = f"{layer}.{name}"
            setattr(mod, name, _wrapped(tracer, fn, full, layer, AFTER.get(full)))
    cls = table_mod.ManagedTable
    for name in TABLE_METHODS:
        raw = inspect.getattr_static(cls, name)
        full = f"table.{name}"
        if isinstance(raw, classmethod):
            fn = _wrapped(tracer, raw.__func__, full, "table", AFTER.get(full))
            setattr(cls, name, classmethod(fn))
        else:
            setattr(cls, name, _wrapped(tracer, raw, full, "table", AFTER.get(full)))
    # every commit goes through this helper once; more calls than
    # appends are commit retries
    table_mod.snapshot_commit_ref = _wrapped(
        tracer, table_mod.snapshot_commit_ref, "table.commit", "table"
    )


def _keep_batch(args, kwargs, out) -> dict:
    # ManagedTable.append(self, df, ...): the plan phases of the batch
    # are read from it after the operation (plan_phases)
    return {"df": args[1] if len(args) > 1 else kwargs["df"]}


def _count_candidates(args, kwargs, out) -> dict:
    # jaccard_verify(cand, sh, ...): cand is a materialized checkpoint
    return {"candidates": args[0].count()}


def _count_verified(args, kwargs, out) -> dict:
    # minhash_lsh_dedup returns its verified pairs materialized
    return {"verified": out.count()}


#: per-span counts taken after a call returns, outside its span
AFTER = {
    "table.append": _keep_batch,
    "dedup.jaccard_verify": _count_candidates,
    "dedup.minhash_lsh_dedup": _count_verified,
}


def _wrapped(tracer: Tracer, fn, name: str, layer: str, after=None):
    @functools.wraps(fn)
    def call(*args, **kwargs):
        with tracer.span(name, layer) as s:
            out = fn(*args, **kwargs)
        if after is not None:
            with tracer.quiet():
                s.attrs.update(after(args, kwargs, out))
        return out

    return call


# -- process memory ------------------------------------------------------------


def tree_peak_rss_mb(root: int | None = None) -> float:
    """Σ peak resident set (VmHWM) over this process and its
    descendants — the Python driver plus the Spark JVM it launched."""
    root = root or os.getpid()
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    total_kb = 0
    todo = [root]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, []))
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024


# -- per-layer metrics ---------------------------------------------------------

_DOC_SCAN = re.compile(r"Location: \w+ \[[^\]]*documents\.parquet")


def _descendants(spans: list[Span], root: Span) -> list[Span]:
    kids: dict[int, list[Span]] = {}
    for s in spans:
        kids.setdefault(s.parent, []).append(s)
    out, todo = [], [root]
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(kids.get(s.id, []))
    return out


def op_metrics(tracer: Tracer, root: Span, new_rows: int, source: str) -> dict:
    """Per-layer numbers of one traced operation. ``new_rows`` is the
    number of rows it committed, ``source`` the file name of the input
    its appended batches read."""
    spans = _descendants(tracer.spans, root)
    by_id = {s.id: s for s in spans}
    child_s: dict[int, float] = {}
    for s in spans:
        if s.parent is not None:
            child_s[s.parent] = child_s.get(s.parent, 0.0) + s.dur

    def layer(name: str) -> list[Span]:
        return [s for s in spans if s.layer == name]

    def total(name: str) -> float:
        # outermost spans of the layer only: nested calls are inside them
        return sum(
            s.dur
            for s in layer(name)
            if s.parent is None or by_id[s.parent].layer != name
        )

    def self_s(name: str) -> float:
        return sum(s.dur - child_s.get(s.id, 0.0) for s in layer(name))

    def jobs(name: str) -> int:
        return sum(len(s.jobs) for s in layer(name))

    def named(name: str) -> list[Span]:
        return [s for s in spans if s.name == name]

    stages = [st for s in spans for st in s.stages.values()]
    run_s = sum(st["run_s"] for st in stages)
    appends = named("table.append")
    batch_runs = sum(
        sum(source in p for d in _descendants(spans, a) for p in d.sql_plans)
        for a in appends
    )
    cands = sum(s.attrs.get("candidates", 0) for s in named("dedup.jaccard_verify"))
    verified = sum(s.attrs.get("verified", 0) for s in named("dedup.minhash_lsh_dedup"))
    read_rows = sum(
        st["input_records"] for s in layer("incremental") for st in s.stages.values()
    )
    return {
        "op.wall_s": root.dur,
        "op.self_s": self_s("op"),
        "op.jobs": jobs("op"),
        "queries.s": total("queries"),
        "incremental.watermark_s": sum(s.dur for s in named("incremental.watermark_for")),
        "incremental.jobs": jobs("incremental"),
        "incremental.rows_read_per_new_row": read_rows / new_rows if new_rows else 0.0,
        "resample.construct_s": total("resample"),
        "resample.jobs": jobs("resample"),
        "rolling.construct_s": total("rolling"),
        "rolling.jobs": jobs("rolling"),
        "assemble.construct_s": total("assemble"),
        "assemble.jobs": jobs("assemble"),
        "exec.jobs": sum(len(s.jobs) for s in spans),
        "exec.stages": len(stages),
        "exec.tasks": sum(st["tasks"] for st in stages),
        "exec.run_s": run_s,
        "exec.cpu_s": sum(st["cpu_s"] for st in stages),
        "exec.gc_s": sum(st["gc_s"] for st in stages),
        "exec.shuffle_write_mb": sum(st["shuffle_write_mb"] for st in stages),
        "exec.spill_mb": sum(st["spill_mb"] for st in stages),
        "exec.core_busy_frac": run_s / (root.dur * CORES),
        "table.append_s": sum(s.dur for s in appends),
        "table.self_s": self_s("table"),
        "table.jobs": jobs("table"),
        "table.batch_executions_per_append": batch_runs / len(appends) if appends else 0.0,
        "table.commit_retries": max(0, len(named("table.commit")) - len(appends)),
        "dedup.s": total("dedup"),
        "dedup.self_s": self_s("dedup"),
        "dedup.jobs": jobs("dedup"),
        "dedup.candidates_per_verified_pair": cands / verified if verified else 0.0,
        "text.s": total("text"),
        "text.jobs": jobs("text"),
        "scan.documents_scans": sum(
            len(_DOC_SCAN.findall(p)) for s in spans for p in s.sql_plans
        ),
    }


def plan_phases(df) -> dict:
    """Analysis, optimization and physical-planning seconds of ``df``'s
    query. Analysis ran when ``df`` was built: its time comes from
    Spark's phase tracker (whole milliseconds). The other two phases are
    forced and timed here."""
    qe = df._jdf.queryExecution()
    t0 = time.perf_counter()
    qe.optimizedPlan()
    t1 = time.perf_counter()
    qe.executedPlan()
    t2 = time.perf_counter()
    analysis = qe.tracker().phases().get("analysis")
    return {
        "plan.analysis_s": analysis.get().durationMs() / 1e3 if analysis.isDefined() else 0.0,
        "plan.optimization_s": t1 - t0,
        "plan.planning_s": t2 - t1,
    }
