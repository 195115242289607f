"""Model-based fuzz of the ManagedTable op surface.

Each primitive has its own tests and oracle gates; what none of them
exercise is arbitrary INTERLEAVINGS — a delete on top of a rollback on
top of an optimize on top of a chained DV. This harness drives random
op sequences (merge with all three arms, DV delete, dynamic partition
overwrite, clustered/plain OPTIMIZE, rollback, vacuum, metadata ADD
COLUMN with DML on the added column) against a plain dict-of-rows
model, asserting after EVERY op that read() equals the model, and at the end that every retained version time-travels to the
state the model recorded when that version was published (vacuumed
versions must raise, never read empty). After every op a differential
check also holds: the engine-free ``managed_table`` batch source, the
commit record and ``ManagedTable.read`` give the current version the
same digest.

Seeded, not hypothesis-driven: each op runs real Spark jobs, so the
budget is a few deterministic walks rather than shrinking searches. A
failure prints the full op log for replay.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from strava_etl_public_spark.operators.layout import dataset_fingerprint
from strava_etl_public_spark.operators.table import ManagedTable
from strava_etl_public_spark.operators.table_log import _DIGEST
from strava_etl_public_spark.sources.table_batch import register_table_source

SCHEMA = "id long, part long, val long"


def _to_model(rows):
    return {r[0]: (r[1], r[2]) for r in rows}


def _read_model(t, val="val", extras=()):
    return {
        r["id"]: (r["part"], r[val], tuple(r[e] for e in extras))
        for r in t.read().collect()
    }


def _digest(df) -> dict:
    d = dataset_fingerprint(df).collect()[0].asDict()
    return {k: d[k] for k in _DIGEST}


def _df(spark, model):
    rows = [(k, p, v) for k, (p, v) in sorted(model.items())]
    return spark.createDataFrame(rows, SCHEMA)


#: seeds 903/908 dispatch EVERY op through the DynamoDB-style sqlite
#: LogStore adapter (r12, verdict #8: the adapter was covered only by
#: directed tests — the fuzz now exercises arbitrary interleavings of
#: the whole op surface through the second coordination mechanism)
@pytest.mark.parametrize(
    "seed,store_kind",
    [(901, "local"), (902, "local"), (903, "sqlite"),
     (906, "local"), (908, "sqlite")],
)
@pytest.mark.slow  # random-op model fuzz (~4 min total): slow lane (r13 verdict #1)
def test_random_op_sequences_match_model(
    spark, tmp_path, seed, store_kind, request
):
    from strava_etl_public_spark.operators.logstore import (
        SqliteCoordLogStore,
        set_log_store,
    )

    request.addfinalizer(lambda: set_log_store(None))
    register_table_source(spark)
    if store_kind == "sqlite":
        set_log_store(
            SqliteCoordLogStore(db_path=str(tmp_path / f"coord{seed}.db"))
        )
    rng = random.Random(seed)
    init = {i: (i % 4, i * 10) for i in range(1, 31)}
    # the value column starts NARROW (int) so the widen arm has a real
    # transition; model values are Python ints either way, and every
    # later write/merge coerces wide exactly as widen_column declares
    t = ManagedTable.create(
        _df(spark, init).withColumn("val", F.col("val").cast("int")),
        str(tmp_path / f"t{seed}"),
        key="id",
        stat_cols=["id"],
    )
    model = dict(init)
    cur = "val"  # the value column's CURRENT logical name (renames flip it)
    # metadata-ADDED columns (long): name → {id: value}; ids absent
    # from the dict read NULL — exactly the add_column contract
    extras: dict[str, dict] = {}
    # version → (model state, value-column name, extras state) at
    # publish time (None once vacuumed)
    states: dict[int, tuple | None] = {1: (dict(model), cur, {})}
    log: list[str] = []

    def _ex_snap():
        return {e: dict(vals) for e, vals in extras.items()}

    def publish(v: int) -> None:
        states[v] = (dict(model), cur, _ex_snap())

    def schema() -> str:
        base = f"id long, part long, {cur} long"
        for e in extras:
            base += f", {e} long"
        return base

    def _with_extras(rows):
        # source batches carry NULL for every added column — the model
        # only populates them through the update-added arm
        return [(*r, *[None] * len(extras)) for r in rows]

    def _expected():
        return {
            k: (p, v, tuple(extras[e].get(k) for e in sorted(extras)))
            for k, (p, v) in model.items()
        }

    next_id = 100
    clones: list[tuple] = []  # (handle, expected model, value-col name)

    # CDF resilient-drain arm (r12, verdict #8): a change-feed
    # consumer rides along the walk — `consumer` folds the drained
    # signed deltas and must equal the table's (id → (part, val))
    # state after every clean drain. Copy commits (merge/optimize/
    # restore) and rollback/vacuum mark the window dirty: the source
    # raises on those by contract, and the consumer follows the
    # documented recipe (resync from a snapshot, fresh cursor).
    # Evolution commits (rename/widen/add) stay CLEAN — the resilient
    # drain's restart loop must serve them, replay-exact.
    from tests.cdf_drain_helper import table_cdf_resilient_drain

    drain = {
        "n": 0,
        "ckpt": str(tmp_path / f"ck{seed}_0"),
        "start_v": t.version(),
        "dirty": False,
        "consumer": {k: (p, v) for k, (p, v) in model.items()},
    }
    _DIRTY_OPS = {
        "merge", "merge_nmbs", "restore", "rollback", "vacuum",
        "optimize",
    }

    for step in range(14):
        op = rng.choice(
            [
                "merge",
                "merge_nmbs",
                "delete",
                "update",
                "append",
                "clone",
                "restore",
                "rename",
                "overwrite",
                "optimize",
                "compact",
                "widen",
                "rollback",
                "vacuum",
                "addcol",
                "update_added",
                "drain",
            ]
        )
        if op == "merge":
            n_upd = rng.randint(0, 4)
            upd = rng.sample(sorted(model), min(n_upd, len(model)))
            ins = [next_id + i for i in range(rng.randint(0, 3))]
            next_id += len(ins)
            dels = rng.sample(sorted(model), min(rng.randint(0, 2), len(model)))
            dels = [d for d in dels if d not in upd]
            src_rows = _with_extras(
                [(k, model[k][0], model[k][1] + 1) for k in upd]
                + [(k, k % 4, k) for k in ins]
                + [(k, model[k][0], -1) for k in dels]
            )
            if not src_rows:
                continue
            log.append(f"merge upd={upd} ins={ins} dels={dels}")
            v = t.merge(
                spark.createDataFrame(src_rows, schema()),
                delete_cond=F.col(f"_s_{cur}") < 0,
            )
            for k in upd:
                # an update whose source val lands negative trips the
                # delete_cond arm — the model mirrors MERGE, not intent
                if model[k][1] + 1 < 0:
                    model.pop(k)
                else:
                    model[k] = (model[k][0], model[k][1] + 1)
                    # MERGE's update arm takes the SOURCE row whole —
                    # the source carries NULL extras
                    for e in extras:
                        extras[e].pop(k, None)
            for k in ins:
                model[k] = (k % 4, k)
            for k in dels:
                model.pop(k)
            publish(v)
        elif op == "merge_nmbs":
            if not model:
                continue
            keep = rng.sample(sorted(model), max(1, len(model) // 2))
            src_rows = _with_extras(
                [(k, model[k][0], model[k][1]) for k in keep]
            )
            log.append(f"merge_nmbs keep={sorted(keep)}")
            v = t.merge(
                spark.createDataFrame(src_rows, schema()),
                not_matched_by_source_delete_cond=F.col("part") == 2,
                not_matched_by_source_update={cur: F.lit(-7)},
                not_matched_by_source_update_cond=F.col("part") == 3,
            )
            for k in list(model):
                if k in keep:
                    for e in extras:
                        extras[e].pop(k, None)
                    continue
                p, val = model[k]
                if p == 2:
                    model.pop(k)
                elif p == 3:
                    model[k] = (p, -7)
            publish(v)
        elif op == "delete":
            m = rng.randint(2, 5)
            r = rng.randint(0, m - 1)
            log.append(f"delete id%{m}=={r}")
            v = t.delete(F.col("id") % m == r)
            for k in list(model):
                if k % m == r:
                    model.pop(k)
                    for e in extras:
                        extras[e].pop(k, None)
            publish(v)
        elif op == "update":
            m = rng.randint(2, 5)
            r = rng.randint(0, m - 1)
            d = rng.randint(1, 9)
            log.append(f"update id%{m}=={r} val+={d}")
            v = t.update(F.col("id") % m == r, {cur: F.col(cur) + d})
            for k in list(model):
                if k % m == r:
                    model[k] = (model[k][0], model[k][1] + d)
            publish(v)
        elif op == "append":
            rows = [
                (next_id + i, (next_id + i) % 4, rng.randint(0, 99))
                for i in range(rng.randint(1, 3))
            ]
            next_id += len(rows)
            log.append(f"append rows={rows}")
            v = t.append(spark.createDataFrame(_with_extras(rows), schema()))
            for k, pp, vv in rows:
                model[k] = (pp, vv)
            publish(v)
        elif op == "clone":
            cpath = str(tmp_path / f"c{seed}_{step}")
            log.append(f"clone -> c{seed}_{step} + delete id%2==0 on it")
            c = t.clone(cpath)
            # isolation both ways: the clone starts as the source's
            # current state, a delete on it never touches the source
            assert _read_model(
                c, cur, sorted(extras)
            ) == _expected(), (
                "clone diverged at birth\nops:\n" + "\n".join(log)
            )
            c.delete(F.col("id") % 2 == 0)
            clones.append(
                (
                    c,
                    {k: s for k, s in _expected().items() if k % 2 != 0},
                    cur,
                    sorted(extras),
                )
            )
        elif op == "restore":
            live = [v for v, s in states.items() if s is not None]
            tgt = rng.choice(live)
            log.append(f"restore -> content of v{tgt}")
            try:
                v = t.restore(tgt)
            except ValueError:
                # the target references vacuumed data — loud, legal
                continue
            model, cur = dict(states[tgt][0]), states[tgt][1]
            extras = {e: dict(vs) for e, vs in states[tgt][2].items()}
            publish(v)
        elif op == "overwrite":
            p = rng.randint(0, 3)
            rows = [(next_id + i, p, rng.randint(0, 99)) for i in range(rng.randint(1, 3))]
            next_id += len(rows)
            log.append(f"overwrite part={p} rows={rows}")
            v = t.overwrite_partitions(
                spark.createDataFrame(_with_extras(rows), schema()), "part"
            )
            for k in list(model):
                if model[k][0] == p:
                    model.pop(k)
                    for e in extras:
                        extras[e].pop(k, None)
            for k, pp, vv in rows:
                model[k] = (pp, vv)
            publish(v)
        elif op == "optimize":
            cluster = rng.choice([None, ["id"]])
            log.append(f"optimize cluster_by={cluster}")
            v = t.optimize(target_bytes=1 << 20, cluster_by=cluster)
            publish(v)
        elif op == "widen":
            # ALTER COLUMN TYPE int→bigint as metadata; refused once
            # the effective type is already wide (a copy commit in the
            # history materializes long) — both paths legal
            try:
                v = t.widen_column(cur, "bigint")
            except ValueError:
                continue
            log.append(f"widen {cur} -> bigint")
            publish(v)
        elif op == "compact":
            frac = rng.choice([0.1, 0.3])
            small = rng.choice([0, 64 * 1024])
            log.append(f"compact dead_frac={frac} small_bytes={small}")
            v = t.compact(dead_frac=frac, small_bytes=small)
            if v is None:
                continue  # nothing crossed the thresholds — no commit
            publish(v)  # content-identical by contract
        elif op == "rename":
            new = "vv" if cur == "val" else "val"
            log.append(f"rename {cur} -> {new}")
            v = t.rename_column(cur, new)
            cur = new
            publish(v)
        elif op == "rollback":
            live = [v for v, s in states.items() if s is not None]
            tgt = rng.choice(live)
            log.append(f"rollback -> v{tgt}")
            t.rollback(tgt)
            model, cur = dict(states[tgt][0]), states[tgt][1]
            extras = {e: dict(vs) for e, vs in states[tgt][2].items()}
        elif op == "addcol":
            name = f"x{step}_{seed}"
            log.append(f"addcol {name}")
            v = t.add_column(name, "long")
            extras[name] = {}
            publish(v)
        elif op == "update_added":
            if not extras or not model:
                continue
            e = rng.choice(sorted(extras))
            m = rng.randint(2, 5)
            r = rng.randint(0, m - 1)
            d = rng.randint(1, 9)
            log.append(f"update_added {e} where id%{m}=={r} := {d}")
            v = t.update(F.col("id") % m == r, {e: F.lit(d)})
            for k in model:
                if k % m == r:
                    extras[e][k] = d
            publish(v)
        elif op == "vacuum":
            k = rng.randint(1, 3)
            log.append(f"vacuum keep_last={k}")
            removed = t.vacuum(keep_last=k)
            for v in removed:
                states[v] = None
        elif op == "drain":
            if drain["dirty"]:
                drain["n"] += 1
                drain["ckpt"] = str(tmp_path / f"ck{seed}_{drain['n']}")
                drain["start_v"] = t.version()
                drain["consumer"] = {
                    k: (p, v) for k, (p, v) in model.items()
                }
                drain["dirty"] = False
                log.append("drain: resync (copy commit in window)")
            else:
                batches: list[list[dict]] = []

                def _sink(df, bid, batches=batches):
                    batches.append([r.asDict() for r in df.collect()])

                table_cdf_resilient_drain(
                    spark,
                    t.path,
                    drain["ckpt"],
                    _sink,
                    starting_version=drain["start_v"],
                )
                for batch in batches:
                    # per window-segment-diff: per id at most one -1
                    # and one +1; fold retractions first
                    for r in sorted(batch, key=lambda r: r["sign"]):
                        if r["sign"] == 1:
                            drain["consumer"][r["id"]] = (
                                r["part"],
                                r[cur],
                            )
                        else:
                            drain["consumer"].pop(r["id"], None)
                log.append(f"drain: {sum(len(b) for b in batches)} rows")
                assert drain["consumer"] == {
                    k: (p, v) for k, (p, v) in model.items()
                }, (
                    "CDF consumer diverged from table state\nops:\n"
                    + "\n".join(log)
                )
        if op in _DIRTY_OPS:
            drain["dirty"] = True
        got = _read_model(t, cur, sorted(extras))
        assert got == _expected(), (
            f"step {step} diverged\nops:\n" + "\n".join(log)
        )
        # differential: the pyarrow source, the record and read() agree
        v = t.version()
        rec = t._record(v)
        src = (
            spark.read.format("managed_table")
            .option("path", t.path)
            .option("version", v)
            .load()
        )
        assert (
            _digest(src) == {k: rec[k] for k in _DIGEST} == _digest(t.read(v))
        ), f"step {step}: v{v} digests disagree\nops:\n" + "\n".join(log)

    # every retained version time-travels to its recorded state;
    # vacuumed versions raise loudly
    for v, s in states.items():
        if s is None:
            # the version dir is gone unless it is pinned as a DV base
            # (ManagedTable.vacuum keeps pinned bases readable)
            try:
                t.read(version=v)
            except ValueError:
                continue
        else:
            mdl, vname, ex = s
            got = {
                r["id"]: (
                    r["part"],
                    r[vname],
                    tuple(r[e] for e in sorted(ex)),
                )
                for r in t.read(version=v).collect()
            }
            want = {
                k: (p, val, tuple(ex[e].get(k) for e in sorted(ex)))
                for k, (p, val) in mdl.items()
            }
            assert got == want, (
                f"time travel v{v} diverged\nops:\n" + "\n".join(log)
            )

    # every clone either still serves exactly its recorded state or —
    # when a later SOURCE vacuum removed a base its zero-copy DV
    # references — fails LOUDLY (Delta's shallow-clone hazard; a wrong
    # or partial read here is the bug this arm exists to catch)
    for c, snap, vname, ex_names in clones:
        try:
            got = _read_model(c, vname, ex_names)
        except ValueError:
            continue  # loud refusal — legal after source vacuum
        assert got == snap, (
            f"clone diverged\nops:\n" + "\n".join(log)
        )
