"""Dynamic partition overwrite as merge-on-read (round 10): replace
partitions by DV + append instead of rewriting the table. Pins the
write-free property (the commit writes no copy of untouched data),
content parity with the old full-copy semantics, composition with
prior DVs / column maps / added columns, the CDC fast path across a
dv_overwrite commit, and the digest arithmetic (clone and OPTIMIZE
verify digests downstream, so a wrong derived digest fails loudly
there — both exercised here)."""

from __future__ import annotations

import json
import os

import pytest

from tests.vdir_helper import vd as _vd
from pyspark.sql import functions as F

from strava_etl_public_spark.operators.table import ManagedTable


@pytest.fixture()
def t(spark, tmp_path):
    df = (
        spark.range(0, 1000)
        .select(
            F.col("id"),
            (F.col("id") % 10).alias("part"),
            (F.col("id") * 10).alias("val"),
        )
        .repartitionByRange(8, "part", "id")
    )
    return ManagedTable.create(df, str(tmp_path / "t"), key="id")


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_overwrite_is_write_free_and_exact(spark, t):
    repl = spark.createDataFrame(
        [(5000 + i, 3, i) for i in range(7)], "id long, part long, val long"
    )
    v = t.overwrite_partitions(repl, "part")
    vdir = _vd(t.path, v)
    # no copy of untouched data: the version dir holds only the DV,
    # the replacement batch (_upd), and sidecars
    assert not any(f.startswith("part-") for f in os.listdir(vdir))
    assert os.path.isdir(os.path.join(vdir, "_dv"))
    assert os.path.isdir(os.path.join(vdir, "_upd"))
    rec = json.load(open(os.path.join(t.path, "_commits", f"{v}.json")))
    assert rec["op"] == "dv_overwrite"
    out = t.read()
    assert out.filter("part = 3").count() == 7
    assert _rows(out.filter("part = 3").select("id")) == [
        (5000 + i,) for i in range(7)
    ]
    assert out.filter("part != 3").count() == 900
    # rows of untouched partitions unchanged
    assert out.filter((F.col("part") == 4) & (F.col("val") != F.col("id") * 10)).count() == 0


def test_overwrite_composes_with_prior_dv_and_time_travel(spark, t):
    t.delete(F.col("id") % 2 == 0)  # DV chain first
    pre = t.version()
    repl = spark.createDataFrame(
        [(7000, 1, 1), (7001, 1, 2)], "id long, part long, val long"
    )
    t.overwrite_partitions(repl, "part")
    out = t.read()
    assert out.filter("part = 1").count() == 2
    # even ids live only in even partitions, so the delete emptied
    # those; the surviving odd partitions (3,5,7,9) pass through whole
    assert out.filter("part != 1").count() == 400
    assert out.filter("part % 2 = 0").count() == 0
    assert t.read(version=pre).filter("part = 1").count() == 100


def test_overwrite_digest_holds_through_optimize_and_clone(spark, t, tmp_path):
    repl = spark.createDataFrame(
        [(8000 + i, 7, i) for i in range(5)], "id long, part long, val long"
    )
    t.overwrite_partitions(repl, "part")
    before = _rows(t.read())
    # OPTIMIZE digest-verifies the materialized rewrite against the
    # DERIVED overwrite digest — a wrong derivation dies here
    t.optimize()
    assert _rows(t.read()) == before
    c = t.clone(str(tmp_path / "c"))
    assert _rows(c.read()) == before


def test_overwrite_null_partitions_pass_through(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, None, 10), (2, 1, 20), (3, 1, 30)],
        "id long, part long, val long",
    )
    t = ManagedTable.create(df, str(tmp_path / "tn"), key="id")
    repl = spark.createDataFrame([(9, 1, 99)], "id long, part long, val long")
    t.overwrite_partitions(repl, "part")
    out = t.read()
    # NULL-part row passes through (SQL equality), part=1 replaced
    assert _rows(out.select("id")) == [(1,), (9,)]


def test_overwrite_cdc_fast_path(spark, t):
    v0 = t.version()
    repl = spark.createDataFrame(
        [(9100, 2, 5)], "id long, part long, val long"
    )
    t.overwrite_partitions(repl, "part")
    # the signed feed walks the dv_overwrite record physically:
    # 100 retracted part=2 rows, 1 inserted
    signed = t.changes_signed(v0, t.version())
    assert signed.filter("sign = -1").count() == 100
    assert signed.filter("sign = 1").count() == 1
    assert signed.filter("sign = -1").filter("part != 2").count() == 0


def test_overwrite_respects_added_column_and_defaults(spark, t):
    t.add_column("src", "string", default_sql="'ovw'")
    repl = spark.createDataFrame(
        [(9200, 5, 1)], "id long, part long, val long"
    )
    t.overwrite_partitions(repl, "part")
    out = t.read()
    got = out.filter("part = 5").collect()
    assert len(got) == 1 and got[0]["src"] == "ovw"
    # untouched rows keep NULL (no backdating)
    assert out.filter((F.col("part") != 5) & F.col("src").isNotNull()).count() == 0


def test_overwrite_absorbs_disjoint_interleaved_delete(spark, t, monkeypatch):
    """A dv_delete landing in the overwrite's populate window on
    DISJOINT files is absorbed by DV union — both effects on one
    lineage, no conflict surfaced."""
    from strava_etl_public_spark.operators import table_log as L

    t2 = ManagedTable(spark, t.path)
    orig = L.snapshot_commit_ref
    fired = {"done": False}

    def racing(path, populate, **kw):
        if not fired["done"] and kw.get("extra", {}).get("op") == "dv_overwrite":
            fired["done"] = True
            t2.delete(F.col("id") == 9)  # part 9's file — disjoint from part 6
        return orig(path, populate, **kw)

    monkeypatch.setattr(L, "snapshot_commit_ref", racing)
    monkeypatch.setattr(
        "strava_etl_public_spark.operators.table.snapshot_commit_ref", racing
    )
    repl = spark.createDataFrame(
        [(9300, 6, 1)], "id long, part long, val long"
    )
    t.overwrite_partitions(repl, "part")
    out = t.read()
    assert out.filter("id = 9").count() == 0  # the racer's delete held
    assert out.filter("part = 6").count() == 1  # and the overwrite held
