"""The batch of every data commit (append, partition overwrite, update,
and the copy commits: create, merge) runs ONCE: its commit digest and
CHECK counts are observed on the parquet write
(``ManagedTable._written_once``), the observed count is cross-checked
against the written files' footers, and the parent's deletion vector
is carried without a Spark job.

Every published digest must equal a live re-fingerprint of the version
it describes — also for a batch with a non-deterministic column, which
a digest taken on a second run of the batch plan gets wrong.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from strava_etl_public_spark.operators import table as table_mod
from strava_etl_public_spark.operators.layout import dataset_fingerprint
from strava_etl_public_spark.operators.table import ManagedTable
from tests.vdir_helper import stage_litter
from tests.vdir_helper import vd as _vd

SCHEMA = "id long, part long, value double, ts timestamp"


@pytest.fixture(scope="module")
def spark():
    from strava_etl_public_spark.session import get_spark

    return get_spark()


@pytest.fixture
def t(spark, tmp_path):
    rows = [(i, i % 3, float(i), None) for i in range(1, 13)]
    return ManagedTable.create(
        spark.createDataFrame(rows, SCHEMA).repartition(2),
        str(tmp_path / "t"),
        key="id",
    )


def _batch(spark, ids, ts=None):
    """Rows ``ids`` of SCHEMA; ``ts`` defaults to ``current_timestamp()``
    (a different value each time the batch plan runs)."""
    rows = [(i, i % 3, float(i)) for i in ids]
    return spark.createDataFrame(
        rows, "id long, part long, value double"
    ).withColumn(
        "ts",
        F.current_timestamp() if ts is None else F.lit(ts).cast("timestamp"),
    )


def _assert_digest_exact(t, v):
    with open(os.path.join(t.path, "_commits", f"{v}.json")) as f:
        rec = json.load(f)
    live = dataset_fingerprint(t.read(v)).collect()[0].asDict()
    assert (rec["n_rows"], rec["xor_hash"], rec["sum_hash_mod"]) == (
        live["n_rows"],
        live["xor_hash"] or 0,
        live["sum_hash_mod"] or 0,
    ), f"v{v}: commit digest does not describe the rows it published"


def test_digest_matches_published_rows_with_current_timestamp(spark, t):
    """append, overwrite_partitions and update each publish the digest
    of the rows they wrote, though ``current_timestamp()`` makes the
    batch plan non-deterministic across runs."""
    v = t.append(_batch(spark, range(100, 110)))
    _assert_digest_exact(t, v)
    v = t.overwrite_partitions(_batch(spark, [200, 201, 202]), "part")
    _assert_digest_exact(t, v)
    v = t.update(F.col("id") < 5, {"ts": F.current_timestamp()})
    _assert_digest_exact(t, v)
    assert t.read().filter(F.col("ts").isNull()).count() == 0


def test_digest_matches_deterministic_batches(spark, t):
    v = t.append(_batch(spark, range(100, 104), ts="2024-01-01 00:00:00"))
    _assert_digest_exact(t, v)
    v = t.append(spark.createDataFrame([], SCHEMA))  # empty batch
    _assert_digest_exact(t, v)
    v = t.overwrite_partitions(
        _batch(spark, [300], ts="2024-01-02 00:00:00"), "part"
    )
    _assert_digest_exact(t, v)
    v = t.update(F.col("part") == 1, {"value": F.col("value") * 2})
    _assert_digest_exact(t, v)


def _counted(spark, batch, col="id"):
    """``batch`` with its ``col`` passed through a Python UDF that
    counts the rows it sees in an accumulator: (batch, accumulator)."""
    acc = spark.sparkContext.accumulator(0)

    def tap(x):
        acc.add(1)
        return x

    return batch.withColumn(col, F.udf(tap, "long")(col)), acc


def test_batch_plan_runs_once_per_append(spark, t):
    """An accumulator-counting Python UDF in the batch counts each row
    once — the digest rides on the write, not on a second run."""
    batch, acc = _counted(
        spark, _batch(spark, range(100, 107), ts="2024-01-01 00:00:00")
    )
    v = t.append(batch)
    assert acc.value == 7
    _assert_digest_exact(t, v)


def test_overwrite_runs_batch_once(spark, t):
    """The replaced-partition list is read from the written files, so a
    UDF that produces the partition column counts each row once."""
    batch, acc = _counted(
        spark, _batch(spark, [600, 601, 604], ts="2024-01-01 00:00:00"), "part"
    )
    v = t.overwrite_partitions(batch, "part")
    assert acc.value == 3
    got = sorted((r["part"], r["id"]) for r in t.read(v).collect())
    assert [i for p, i in got if p == 1] == [601, 604]
    assert [i for p, i in got if p != 1] == [600, 2, 5, 8, 11]
    _assert_digest_exact(t, v)


def test_merge_runs_source_once_under_constraints(spark, t):
    """A MERGE into a table with two CHECK constraints evaluates them on
    its one write: the source's counting UDF sees its row once."""
    t.add_constraint("val_pos", "value > 0")
    t.add_constraint("id_pos", "id > 0")
    src, acc = _counted(
        spark, _batch(spark, [700], ts="2024-01-01 00:00:00")
    )
    v = t.merge(src)
    assert acc.value == 1
    assert t.read(v).filter(F.col("id") == 700).count() == 1
    _assert_digest_exact(t, v)


def test_violating_merge_leaves_table_unchanged(spark, t):
    t.add_constraint("val_pos", "value > 0")
    v0 = t.version()
    bad = spark.createDataFrame([(777, 0, -1.0, None)], SCHEMA)
    with pytest.raises(ValueError, match=r"val_pos.*777"):
        t.merge(bad)
    assert t.version() == v0
    assert not stage_litter(t.path)


def test_conflict_rebase_does_not_rerun_the_batch(spark, t, monkeypatch):
    """A merge landing mid-append forces a rebase; the retry re-links
    the written files, so the batch still ran once and the published
    digest covers both effects."""
    t2 = ManagedTable(spark, t.path)
    fired = {"done": False}
    orig = ManagedTable._inherit_sidecars

    def hooked(src_vdir, dst_vdir):
        if not fired["done"]:
            fired["done"] = True
            t2.merge(spark.createDataFrame([(1, 1, 111.0, None)], SCHEMA))
        return orig(src_vdir, dst_vdir)

    monkeypatch.setattr(ManagedTable, "_inherit_sidecars", staticmethod(hooked))
    batch, acc = _counted(
        spark, _batch(spark, [500, 501], ts="2024-01-01 00:00:00")
    )
    v = t.append(batch)
    assert fired["done"] and acc.value == 2
    got = {r["id"]: r["value"] for r in t.read(v).collect()}
    assert got[1] == 111.0 and {500, 501} <= set(got)
    _assert_digest_exact(t, v)
    assert not stage_litter(t.path)


def test_wrong_observed_count_takes_footer_fallback(spark, t, monkeypatch):
    """A double-counted observation (simulated: +1 row) disagrees with
    the written footers, so the written files are fingerprinted instead
    and the digest stays exact."""
    real = table_mod._observed
    monkeypatch.setattr(
        table_mod,
        "_observed",
        lambda obs: {**real(obs), "n_rows": real(obs)["n_rows"] + 1},
    )
    calls = []
    real_fp = table_mod.dataset_fingerprint

    def spy(df, *a, **kw):
        calls.append(df)
        return real_fp(df, *a, **kw)

    monkeypatch.setattr(table_mod, "dataset_fingerprint", spy)
    v = t.append(_batch(spark, range(100, 106)))
    assert len(calls) == 1, "footer mismatch must fingerprint the written files"
    monkeypatch.undo()
    _assert_digest_exact(t, v)


def test_constraint_violation_leaves_table_unchanged(spark, t):
    t.add_constraint("val_pos", "value > 0")
    v0 = t.version()
    bad = spark.createDataFrame(
        [(900, 0, 1.0), (901, 1, -1.0)], "id long, part long, value double"
    ).withColumn("ts", F.lit(None).cast("timestamp"))
    with pytest.raises(ValueError, match=r"val_pos.*901"):
        t.append(bad)
    with pytest.raises(ValueError, match="val_pos"):
        t.overwrite_partitions(bad, "part")
    with pytest.raises(ValueError, match="val_pos"):
        t.update(F.col("id") == 2, {"value": F.lit(-5.0)})
    assert t.version() == v0
    assert not stage_litter(t.path)
    # NULL passes a CHECK (SQL semantics); a good batch commits
    v = t.append(spark.createDataFrame([(902, 2, None, None)], SCHEMA))
    assert v == v0 + 1
    _assert_digest_exact(t, v)


def test_dv_carried_through_append(spark, t):
    """The parent's DV is copied file for file (after a DELETE) or laid
    as an empty parquet (no DV); both versions read back exactly."""
    v = t.append(_batch(spark, [100], ts="2024-01-01 00:00:00"))
    dv = os.path.join(_vd(t.path, v), "_dv")
    assert spark.read.parquet(dv).count() == 0
    assert spark.read.parquet(dv).schema.simpleString() == (
        "struct<_file:string,_pos:bigint>"
    )
    assert sorted(r["id"] for r in t.read(v).collect()) == [*range(1, 13), 100]
    vd = t.delete(F.col("id") % 2 == 0)
    v = t.append(_batch(spark, [101], ts="2024-01-01 00:00:00"))

    def part_files(d):
        return sorted(f for f in os.listdir(d) if f.startswith("part-"))

    src = os.path.join(_vd(t.path, vd), "_dv")
    dst = os.path.join(_vd(t.path, v), "_dv")
    assert part_files(dst) == part_files(src)
    for f in part_files(src):
        with open(os.path.join(src, f), "rb") as a:
            with open(os.path.join(dst, f), "rb") as b:
                assert a.read() == b.read()
    assert sorted(r["id"] for r in t.read(v).collect()) == [1, 3, 5, 7, 9, 11, 101]
    _assert_digest_exact(t, v)


def test_every_op_publishes_the_digest_of_its_rows(spark, tmp_path):
    """Directed walk over every op that publishes a version: after each,
    the commit record's digest equals a live re-fingerprint of what the
    version reads."""
    rows = [(i, i % 3, float(i), int(i)) for i in range(1, 13)]
    df = spark.createDataFrame(rows, "id long, part long, value double, n int")
    t = ManagedTable.create(
        df.repartition(3), str(tmp_path / "t"), key="id", stat_cols=["id"]
    )
    steps = [("create", t.version())]

    def src(ids, value):
        return spark.createDataFrame(
            [(i, i % 3, value, int(i)) for i in ids],
            "id long, part long, value double, n int",
        )

    steps.append(("merge", t.merge(src([2, 20], 2.5))))
    steps.append(("delete", t.delete(F.col("id").isin(1, 4))))
    steps.append(("update", t.update(F.col("id") == 5, {"value": F.lit(9.0)})))
    steps.append(("append", t.append(src([30, 31], 3.0))))
    steps.append(("overwrite_partitions", t.overwrite_partitions(src([33], 4.0), "part")))
    steps.append(("compact", t.compact(dead_frac=0.01)))
    steps.append(("rename_column", t.rename_column("value", "val")))
    merged = spark.createDataFrame(
        [(6, 0, 6.5, 6), (40, 1, 4.0, 40)], "id long, part long, val double, n int"
    )
    steps.append(("merge under a map", t.merge(merged)))
    appended = spark.createDataFrame(
        [(41, 2, 4.1, 41)], "id long, part long, val double, n int"
    )
    steps.append(("append under a map", t.append(appended)))
    steps.append(("add_column", t.add_column("note", "string")))
    steps.append(("widen_column", t.widen_column("n", "bigint")))
    evolved = spark.createDataFrame(
        [(7, 1, 7.5, 7, "x", "tagged")],
        "id long, part long, val double, n long, note string, tag string",
    )
    steps.append(("merge evolve_schema", t.merge(evolved, evolve_schema=True)))
    steps.append(("drop_column", t.drop_column("note")))
    steps.append(("optimize", t.optimize()))
    steps.append(("optimize cluster_by", t.optimize(cluster_by=["id"])))
    steps.append(("restore", t.restore(3)))
    for name, v in steps:
        assert v is not None, name
        _assert_digest_exact(t, v)
    c = t.clone(str(tmp_path / "c"))
    _assert_digest_exact(c, c.version())
    assert len(steps) + 1 == 18
