"""The benchmark workloads: inputs, warm-up, the timed operation and
the correctness gate of each.

Sizes are per ``--scale``: ``full`` is what the benchmark measures,
``tiny`` is for the smoke test (``smoke.py``). The ``full`` sizes come
from the repository's fixture shape (``scripts/gen_scale_tier.py``: at
sf0.1, 100 000 events over 1 500 activities and 5 000 documents, all
three proportional to sf) at sf0.01 — 150 activities of history and
500 documents — with the fixture's ≈67 events per activity and
40-activity syncs (README.md, "Inputs and sizes").
"""

from __future__ import annotations

import math
import os
import sys
import time
from urllib.parse import urlparse

import numpy as np
from pyspark.sql import functions as F

import gate
import gen
import pipeline
import spans

SIZES = {
    "full": {
        "history": 150,
        # one sync batch: 40 activities of 47-86 events (mean 66.5)
        "lengths": tuple(range(47, 87)),
        "docs": 500,
        "oracle_activities": 8,
    },
    "tiny": {
        "history": 3,
        "lengths": (20, 40, 60),
        "docs": 80,
        "oracle_activities": 3,
    },
}


#: Seconds one operation of either workload took when the benchmark was
#: defined (a sync and a curation pass both ≈5 s on a 4-core VM).
NOMINAL_OP_S = 5.0


def n_ops(seconds: float) -> int:
    """Operations in the timed window: as many as fill ``seconds`` at
    the nominal operation time. The count does not depend on how fast
    the operations run, so every commit is timed at the same operations
    of the warm-up curve."""
    return max(1, math.ceil(seconds / NOMINAL_OP_S))


def _dir_files(path: str) -> dict[str, int]:
    out = {}
    for root, _, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            out[p] = os.path.getsize(p)
    return out


class ActivitySync:
    """Repeated small incremental syncs into a table pre-seeded with
    history. Each operation is one :func:`pipeline.sync_once` of the
    next batch of activities."""

    name = "activity_sync"
    source = "events.parquet"

    def __init__(self, seed: int, scale: str, seconds: float, work: str, tracer):
        self.seed, self.sz, self.work, self.tracer = seed, SIZES[scale], work, tracer
        self.n_ops = n_ops(seconds)
        # every batch holds one activity of each length, whatever the
        # seed: every sync does the same work
        self.batch = len(self.sz["lengths"])
        self.src = os.path.join(work, "in")
        self.path = os.path.join(work, "sync_table")
        self.synced = 0
        #: records the last operation committed
        self.last_rows = 0

    def generate(self) -> dict:
        # the history, the warm-up sync and the timed syncs
        n = self.sz["history"] + self.batch * (1 + self.n_ops)
        self.inputs = gen.gen_activities(self.seed, n, self.sz["lengths"], self.src)
        return {
            "rows": self.inputs.rows,
            "activities": self.inputs.activities,
            "dense_ticks": self.inputs.dense_ticks,
            "docs": 0,
        }

    def warm_up(self, spark) -> None:
        """Seed the table with the history; backfill the history and the
        first sync batch into a second, fresh table (the reference the
        gate compares the synced table with); then sync that first
        batch. Each step runs the pipeline the timed syncs run."""
        walls, t = [], time.perf_counter()

        def step():
            nonlocal t
            walls.append(time.perf_counter() - t)
            t = time.perf_counter()

        self.table = pipeline.seed_table(spark, self.src, self.path, self.sz["history"])
        self.synced = self.sz["history"]
        step()
        self.ref = pipeline.create_table(
            spark, os.path.join(self.work, "backfill_table"), self.table.read().schema
        )
        self.ref_upto = self.synced + self.batch
        step()
        pipeline.backfill_once(spark, self.src, self.ref, self.ref_upto)
        step()
        self.op(spark)
        step()
        self.ref_version = self.table.version()
        print(
            "warm-up seed/reference/backfill/sync (s): "
            + " ".join(f"{x:.3f}" for x in walls),
            file=sys.stderr,
        )

    def op(self, spark) -> None:
        """Sync the next batch."""
        n = self.batch
        start, end = self.synced, self.synced + n
        ids = pipeline.sync_once(
            spark, self.src, self.table, self.inputs.epochs[end - 1], self.tracer
        )
        if ids != list(range(start, end)):
            raise RuntimeError(f"sync picked {len(ids)} activities, expected {start}..{end - 1}")
        self.synced, self.last_rows = end, n

    def corrupt(self, spark) -> None:
        """Commit one wrong record: a copy of activity 0 under another
        name (a duplicate key the gate must catch)."""
        bad = self.table.read().filter(F.col(pipeline.KEY) == 0)
        self.table.append(bad.withColumn("name", F.lit("corrupt")))

    def gate(self, spark) -> list[tuple[str, bool, str]]:
        rng = np.random.default_rng([self.seed, 0x6A7E])
        sample = [0] + sorted(
            int(x)
            for x in rng.choice(
                np.arange(1, self.synced), self.sz["oracle_activities"] - 1, replace=False
            )
        )
        ref_sample = sorted(
            int(x) for x in rng.choice(self.ref_upto, self.sz["oracle_activities"], replace=False)
        )
        return [
            gate.activity_oracle("sync_oracle", self.table, self.src, sample),
            gate.activity_oracle("backfill_oracle", self.ref, self.src, ref_sample),
            gate.same_digest(self.table, self.ref_version, self.ref),
        ]

    # -- traced run only ----------------------------------------------------

    def before_trace(self) -> None:
        self._files = _dir_files(self.path)

    def after_trace(self, op_span) -> dict:
        """Table-layer and plan numbers of the operation just traced."""
        tracer = self.tracer
        before = self._files
        after = _dir_files(self.path)
        with tracer.quiet():
            read_files = {
                urlparse(f).path for f in self.table.read().inputFiles()
            }
        new = {p: n for p, n in after.items() if before.get(p) != n}
        data = sum(n for p, n in new.items() if p in read_files)
        out = {
            "table.files_per_read": len(read_files),
            "table.bytes_written_per_record_byte": sum(new.values()) / data
            if data
            else 0.0,
        }
        appended = [s for s in tracer.spans if s.op == op_span.op and s.name == "table.append"]
        if appended and "df" in appended[-1].attrs:
            with tracer.quiet():
                out |= spans.plan_phases(appended[-1].attrs.pop("df"))
        return out


class CorpusCuration:
    """The ``x_pipeline_corpus_filter`` composition over a generated
    corpus. Each operation is one full pass, which gives every document
    a keep/drop decision. Read-only: no table, no activity layer."""

    name = "corpus_curation"
    source = "documents.parquet"
    last_rows = 0
    #: passes before the window: the cold one, then warm ones
    warm_up_passes = 4

    def __init__(self, seed: int, scale: str, seconds: float, work: str, tracer):
        self.seed, self.sz = seed, SIZES[scale]
        self.n_ops = n_ops(seconds)
        self.src = os.path.join(work, "in")
        self.last = None

    def generate(self) -> dict:
        gen.gen_documents(self.seed, self.sz["docs"], self.src)
        return {"rows": 0, "activities": 0, "dense_ticks": 0, "docs": self.sz["docs"]}

    def warm_up(self, spark) -> None:
        walls = []
        for _ in range(self.warm_up_passes):
            t = time.perf_counter()
            self.op(spark)
            walls.append(time.perf_counter() - t)
        print("warm-up passes (s): " + " ".join(f"{x:.3f}" for x in walls), file=sys.stderr)

    def op(self, spark) -> None:
        self.last = None  # release the previous pass's checkpoint first
        self.last = pipeline.curate_once(spark, self.src)

    def corrupt(self, spark) -> None:
        """Flip the keep decision of document 0."""
        self.last = self.last.withColumn(
            "keep", F.when(F.col("doc_id") == 0, ~F.col("keep")).otherwise(F.col("keep"))
        )

    def gate(self, spark) -> list[tuple[str, bool, str]]:
        return [gate.corpus_oracle(self.last, self.src)]

    def before_trace(self) -> None:
        pass

    def after_trace(self, op_span) -> dict:
        return {}


WORKLOADS = {w.name: w for w in (ActivitySync, CorpusCuration)}
