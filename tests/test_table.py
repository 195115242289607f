"""ManagedTable: the composed table-format contract.

Each primitive (MERGE, snapshots, OPTIMIZE, manifests, evolution,
partition overwrite) is proven separately by its own operator tests +
oracle gates; these tests pin the COMPOSITION — that stats stay
maintained across operations, that maintenance never mutates
published history, and that the one-handle API preserves each
primitive's semantics when chained.
"""

from __future__ import annotations

import os

import pytest

from tests.vdir_helper import vd as _vd
from pyspark.sql import functions as F

from strava_etl_public_spark.operators.table import ManagedTable


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture()
def base(spark):
    return spark.createDataFrame(
        [(i, i % 3, float(i * 10)) for i in range(1, 9)],
        "id long, part long, value double",
    )


def test_create_read_roundtrip_and_manifest(spark, base, tmp_path):
    t = ManagedTable.create(base, str(tmp_path / "t"), key="id", stat_cols=["id"])
    assert t.version() == 1
    assert _rows(t.read()) == _rows(base)
    assert os.path.isfile(os.path.join(_vd(tmp_path / "t", 1), "_manifest.json"))
    # reopening by path restores config
    t2 = ManagedTable(spark, str(tmp_path / "t"))
    assert t2.key == ["id"] and t2.stat_cols == ["id"]


def test_merge_update_insert_delete_and_time_travel(spark, base, tmp_path):
    t = ManagedTable.create(base, str(tmp_path / "t"), key="id")
    src = spark.createDataFrame(
        [(1, 0, -1.0), (2, 2, 99.0), (100, 1, 5.0)],
        "id long, part long, value double",
    )
    v2 = t.merge(src, delete_cond=F.col("_s_value") < 0)
    assert v2 == 2
    got = {r["id"]: r["value"] for r in t.read().collect()}
    assert 1 not in got  # deleted (matched + negative source value)
    assert got[2] == 99.0  # updated
    assert got[100] == 5.0  # inserted
    assert got[3] == 30.0  # untouched pass-through
    # history is immutable: v1 still serves the pre-merge table
    assert _rows(t.read(version=1)) == _rows(base)


def test_merge_schema_evolution_adds_null_column(spark, base, tmp_path):
    t = ManagedTable.create(base, str(tmp_path / "t"), key="id")
    src = spark.createDataFrame(
        [(2, 1, 20.0, "en")], "id long, part long, value double, lang string"
    )
    t.merge(src, evolve_schema=True)
    out = t.read()
    assert "lang" in out.columns
    got = {r["id"]: r["lang"] for r in out.collect()}
    assert got[2] == "en" and got[3] is None


def test_optimize_reduces_files_keeps_content_and_history(spark, base, tmp_path):
    t = ManagedTable.create(
        base.repartition(8), str(tmp_path / "t"), key="id", stat_cols=["id"]
    )
    n1 = len(
        [f for f in os.listdir(_vd(tmp_path / "t", 1)) if f.startswith("part-")]
    )
    v2 = t.optimize(target_bytes=1 << 30)
    n2 = len(
        [f for f in os.listdir(_vd(tmp_path / "t", v2)) if f.startswith("part-")]
    )
    assert n2 < n1
    assert _rows(t.read()) == _rows(base)
    assert _rows(t.read(version=1)) == _rows(base)  # time travel intact
    # manifest was regenerated for the compacted layout
    assert os.path.isfile(os.path.join(_vd(tmp_path / "t", v2), "_manifest.json"))


def test_overwrite_partitions_replaces_only_named_parts(spark, base, tmp_path):
    t = ManagedTable.create(base, str(tmp_path / "t"), key="id")
    repl = spark.createDataFrame(
        [(200, 1, 1.0), (201, 1, 2.0)], "id long, part long, value double"
    )
    t.overwrite_partitions(repl, "part")
    out = t.read()
    assert out.filter("part = 1").count() == 2  # replaced wholesale
    assert _rows(out.filter("part != 1")) == _rows(base.filter("part != 1"))


def test_scan_prunes_files_and_matches_exact_filter(spark, tmp_path):
    big = spark.range(1, 2001).select(
        F.col("id"), (F.col("id") % 5).alias("part"), (F.col("id") * 2.0).alias("value")
    )
    # sort by id so per-file [min,max] ranges are disjoint and prunable
    t = ManagedTable.create(
        big.repartitionByRange(8, "id").sortWithinPartitions("id"),
        str(tmp_path / "t"),
        key="id",
        stat_cols=["id"],
    )
    df, read, total = t.scan("id", 100, 150)
    assert read < total
    assert _rows(df) == _rows(big.filter("id between 100 and 150"))


def test_scan_manifest_follows_current_version(spark, base, tmp_path):
    """Stats maintained ACROSS operations: after a merge the scan must
    consult the NEW version's manifest, not v1's."""
    t = ManagedTable.create(base, str(tmp_path / "t"), key="id", stat_cols=["id"])
    src = spark.createDataFrame([(500, 0, 1.0)], "id long, part long, value double")
    t.merge(src)
    df, read, total = t.scan("id", 500, 500)
    assert [r["id"] for r in df.collect()] == [500]


def test_vacuum_removes_old_versions_loudly(spark, base, tmp_path):
    t = ManagedTable.create(base, str(tmp_path / "t"), key="id")
    t.merge(spark.createDataFrame([(50, 0, 1.0)], "id long, part long, value double"))
    t.optimize(target_bytes=1 << 30)
    removed = t.vacuum(keep_last=2)
    assert removed == [1]
    assert t.history().count() == 3  # commit log survives vacuum
    with pytest.raises(ValueError):
        t.read(version=1)  # loud, never an empty read


def test_create_rejects_json_unsafe_stat_cols(spark, tmp_path):
    df = spark.createDataFrame([(1,)], "id long").select(
        "id", F.current_timestamp().alias("ts")
    )
    with pytest.raises(ValueError, match="stat column"):
        ManagedTable.create(df, str(tmp_path / "t"), key="id", stat_cols=["ts"])


def test_double_create_conflicts_loudly(spark, base, tmp_path):
    ManagedTable.create(base, str(tmp_path / "t"), key="id")
    with pytest.raises(FileExistsError):
        ManagedTable.create(base, str(tmp_path / "t"), key="id")


def test_changes_between_versions_roundtrips_through_merge(spark, base, tmp_path):
    """CDC face: changes(v1, v2) must report exactly the merge's
    effect — and applying those changes back to v1 via merge must
    reproduce v2 (diff → MERGE round-trip, the forward application
    snapshot_diff documents)."""
    t = ManagedTable.create(base, str(tmp_path / "t"), key="id")
    src = spark.createDataFrame(
        [(1, 0, -1.0), (2, 2, 99.0), (100, 1, 5.0)],
        "id long, part long, value double",
    )
    v2 = t.merge(src, delete_cond=F.col("_s_value") < 0)
    ch = {r["id"]: r["change_type"] for r in t.changes(1, v2).collect()}
    assert ch == {1: "delete", 2: "update", 100: "insert"}
    # round-trip: v1 + changes == v2
    delta = t.changes(1, v2)
    from strava_etl_public_spark.operators.upsert import merge_into

    applied = merge_into(
        t.read(version=1),
        delta,
        "id",
        update_cols=["part", "value"],
        delete_cond=F.col("_s_change_type") == "delete",
    )
    assert _rows(applied.select("id", "part", "value")) == _rows(t.read(version=v2))


# -- deletion vectors, shallow clone, not-matched-by-source MERGE (round 9) --


def _part_files(path):
    return sorted(
        (f, os.path.getsize(os.path.join(path, f)))
        for f in os.listdir(path)
        if f.startswith("part-")
    )


def test_delete_publishes_dv_without_rewriting_files(spark, base, tmp_path):
    t = ManagedTable.create(
        base.repartition(4), str(tmp_path / "t"), key="id", stat_cols=["id"]
    )
    v1_files = _part_files(_vd(tmp_path / "t", 1))
    v2 = t.delete(F.col("id") % 3 == 0)
    assert v2 == 2
    # the DV version's own dir holds NO data files, only the sidecar
    assert _part_files(_vd(tmp_path / "t", 2)) == []
    assert os.path.isdir(os.path.join(_vd(tmp_path / "t", 2), "_dv"))
    # base files untouched byte-for-byte (name+size)
    assert _part_files(_vd(tmp_path / "t", 1)) == v1_files
    # logical content is exactly the surviving rows
    assert _rows(t.read()) == _rows(base.filter(F.col("id") % 3 != 0))
    # time travel to the pre-delete version still serves everything
    assert _rows(t.read(version=1)) == _rows(base)


def test_delete_null_cond_rows_survive(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, 5.0), (2, None), (3, -1.0)], "id long, value double"
    )
    t = ManagedTable.create(df, str(tmp_path / "t"), key="id")
    t.delete(F.col("value") < 0)
    # NULL predicate rows survive (SQL DELETE semantics)
    assert sorted(r["id"] for r in t.read().collect()) == [1, 2]


def test_chained_deletes_merge_dv_one_hop(spark, base, tmp_path):
    t = ManagedTable.create(base, str(tmp_path / "t"), key="id")
    t.delete(F.col("id") <= 2)
    v3 = t.delete(F.col("id") >= 7)
    assert _rows(t.read()) == _rows(base.filter((F.col("id") > 2) & (F.col("id") < 7)))
    # one-hop resolution: v3's base is the materialized v1, not v2
    import json as _json

    with open(os.path.join(_vd(tmp_path / "t", v3), "_dv.json")) as f:
        # the stored base names v1's data dir — "v1" in normal mode,
        # v1's staged basename in no-rename mode; resolve to compare
        from strava_etl_public_spark.operators.table_log import resolve_rel

        assert resolve_rel(
            str(tmp_path / "t"), _json.load(f)["base"]
        ) == _vd(tmp_path / "t", 1)
    # intermediate version still time-travels correctly
    assert _rows(t.read(version=2)) == _rows(base.filter(F.col("id") > 2))


def test_scan_on_dv_version_prunes_and_excludes_deleted(spark, tmp_path):
    df = spark.range(1, 401).select(
        F.col("id"), (F.col("id") % 7).alias("g"), (F.col("id") * 2.0).alias("v")
    )
    t = ManagedTable.create(
        df.repartitionByRange(8, "id").sortWithinPartitions("id"),
        str(tmp_path / "t"),
        key="id",
        stat_cols=["id"],
    )
    t.delete(F.col("g") == 3)
    got, files_read, files_total = t.scan("id", 10, 60)
    assert files_read < files_total  # manifest still prunes
    expect = df.filter(
        (F.col("id") >= 10) & (F.col("id") <= 60) & (F.col("g") != 3)
    )
    assert _rows(got) == _rows(expect)


def test_optimize_materializes_dv_and_keeps_digest(spark, base, tmp_path):
    t = ManagedTable.create(
        base.repartition(4), str(tmp_path / "t"), key="id", stat_cols=["id"]
    )
    t.delete(F.col("id") % 2 == 0)
    before = _rows(t.read())
    v3 = t.optimize()
    # the optimized version is a plain copy commit: data files, no DV
    assert _part_files(_vd(tmp_path / "t", v3)) != []
    assert not os.path.isdir(os.path.join(_vd(tmp_path / "t", v3), "_dv"))
    assert _rows(t.read()) == before


def test_vacuum_pins_dv_base_snapshot(spark, base, tmp_path):
    t = ManagedTable.create(base, str(tmp_path / "t"), key="id")
    t.merge(spark.createDataFrame([(50, 0, 1.0)], base.schema))  # v2 (copy)
    t.delete(F.col("id") == 50)  # v3: DV over v2's files
    removed = t.vacuum(keep_last=1)
    # v2 is pinned by v3's sidecar even though keep_last=1 would drop it
    assert 2 not in removed and 1 in removed
    assert _rows(t.read()) == _rows(base)


def test_merge_not_matched_by_source_delete_syncs_to_snapshot(spark, base, tmp_path):
    t = ManagedTable.create(base, str(tmp_path / "t"), key="id")
    snap = base.filter(F.col("id") <= 4).withColumn("value", F.col("value") + 1)
    t.merge(snap, not_matched_by_source_delete_cond=F.lit(True))
    # target now EQUALS the source snapshot: updates applied, absent keys gone
    assert _rows(t.read()) == _rows(snap)


def test_merge_not_matched_by_source_update_marks_stale(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "fresh"), (2, "fresh"), (3, "fresh")], "id long, status string"
    )
    t = ManagedTable.create(df, str(tmp_path / "t"), key="id")
    src = spark.createDataFrame([(1, "fresh")], "id long, status string")
    t.merge(
        src,
        not_matched_by_source_update={"status": F.lit("stale")},
        not_matched_by_source_update_cond=F.col("id") != 3,
    )
    got = {r["id"]: r["status"] for r in t.read().collect()}
    assert got == {1: "fresh", 2: "stale", 3: "fresh"}


def test_clone_is_zero_copy_and_independent(spark, base, tmp_path):
    t = ManagedTable.create(
        base, str(tmp_path / "src"), key="id", stat_cols=["id"]
    )
    c = t.clone(str(tmp_path / "dst"))
    # zero data bytes copied: clone v1 has no part files of its own
    assert _part_files(_vd(tmp_path / "dst", 1)) == []
    assert _rows(c.read()) == _rows(base)
    # clone writes don't touch the source, and vice versa
    c.delete(F.col("id") == 1)
    t.merge(spark.createDataFrame([(99, 0, 9.0)], base.schema))
    assert _rows(c.read()) == _rows(base.filter(F.col("id") != 1))
    assert sorted(r["id"] for r in t.read().collect()) == list(range(1, 9)) + [99]
    # clone scan still prunes through its inherited manifest
    got, files_read, files_total = c.scan("id", 1, 3)
    assert _rows(got) == _rows(base.filter(F.col("id").between(2, 3)))


def test_clone_read_raises_after_source_vacuum(spark, base, tmp_path):
    t = ManagedTable.create(base, str(tmp_path / "src"), key="id")
    c = t.clone(str(tmp_path / "dst"))
    t.merge(spark.createDataFrame([(99, 0, 9.0)], base.schema))
    t.merge(spark.createDataFrame([(98, 0, 8.0)], base.schema))
    t.vacuum(keep_last=1)  # removes v1 — the clone's base
    with pytest.raises(ValueError, match="no longer exists"):
        c.read()


def test_check_constraints_enforced_on_commit(spark, base, tmp_path):
    t = ManagedTable.create(base, str(tmp_path / "t"), key="id")
    t.add_constraint("positive_value", "value >= 0")
    bad = spark.createDataFrame([(50, 0, -5.0)], base.schema)
    v_before = t.version()
    with pytest.raises(ValueError, match="positive_value"):
        t.merge(bad)
    assert t.version() == v_before  # commit refused, table unchanged
    t.merge(spark.createDataFrame([(50, 0, 5.0)], base.schema))
    assert t.version() == v_before + 1
    # reopening by path restores constraints
    assert ManagedTable(spark, str(tmp_path / "t")).constraints == {
        "positive_value": "value >= 0"
    }


def test_add_constraint_validates_existing_data(spark, tmp_path):
    df = spark.createDataFrame([(1, 5.0), (2, -1.0)], "id long, value double")
    t = ManagedTable.create(df, str(tmp_path / "t"), key="id")
    with pytest.raises(ValueError, match="violated"):
        t.add_constraint("positive_value", "value >= 0")
    assert t.constraints == {}  # unenforceable constraint not recorded


def test_check_constraint_null_passes_sql_semantics(spark, tmp_path):
    df = spark.createDataFrame([(1, 5.0)], "id long, value double")
    t = ManagedTable.create(df, str(tmp_path / "t"), key="id")
    t.add_constraint("positive_value", "value >= 0")
    t.merge(spark.createDataFrame([(2, None)], "id long, value double"))
    assert sorted(r["id"] for r in t.read().collect()) == [1, 2]


def test_drop_constraint_allows_write(spark, base, tmp_path):
    t = ManagedTable.create(base, str(tmp_path / "t"), key="id")
    t.add_constraint("positive_value", "value >= 0")
    t.drop_constraint("positive_value")
    t.merge(spark.createDataFrame([(50, 0, -5.0)], base.schema))
    assert {r["value"] for r in t.read().filter("id = 50").collect()} == {-5.0}


def test_dv_delete_bypasses_constraint_probe(spark, base, tmp_path):
    t = ManagedTable.create(base, str(tmp_path / "t"), key="id")
    t.add_constraint("positive_value", "value >= 0")
    t.delete(F.col("id") % 2 == 0)  # must not re-probe survivors
    assert sorted(r["id"] for r in t.read().collect()) == [1, 3, 5, 7]


def test_bloom_lookup_prunes_and_sees_through_dv(spark, tmp_path):
    df = spark.range(1, 1001).select(
        F.col("id"), (F.col("id") % 10).alias("g"), (F.col("id") * 1.5).alias("v")
    )
    t = ManagedTable.create(
        df.repartition(16), str(tmp_path / "t"), key="id", bloom_col="id"
    )
    got, files_read, files_total = t.lookup(437)
    assert files_read < files_total  # random layout, zone maps would not prune
    assert [(r["id"], r["g"]) for r in got.collect()] == [(437, 7)]
    # a lookup of a DELETED key must return zero rows (DV composition)
    t.delete(F.col("id") == 437)
    got2, fr2, _ = t.lookup(437)
    assert got2.count() == 0 and fr2 >= 1  # bloom still routes to the file
    # other keys unaffected, manifest maintained across the merge
    # commit (AQE may coalesce the tiny merge output to 1 file, so
    # only correctness + manifest-presence are asserted here)
    t.merge(spark.createDataFrame([(2000, 0, 1.0)], "id long, g long, v double"))
    got3, fr3, tot3 = t.lookup(2000)
    assert [r["id"] for r in got3.collect()] == [2000] and fr3 <= tot3


def test_bloom_config_survives_reopen_and_clone(spark, tmp_path):
    df = spark.range(1, 101).select(F.col("id"), (F.col("id") * 2).alias("v"))
    t = ManagedTable.create(
        df.repartition(4), str(tmp_path / "t"), key="id", bloom_col="id"
    )
    t2 = ManagedTable(spark, str(tmp_path / "t"))
    assert t2.bloom_col == "id"
    c = t.clone(str(tmp_path / "c"))
    got, fr, tot = c.lookup(42)
    assert [r["id"] for r in got.collect()] == [42] and fr < tot


def test_last_txn_walks_lineage_not_version_arithmetic(spark, base, tmp_path):
    """code-review r9: after rollback→recommit, a rolled-back branch's
    txn marker must NOT resurrect — `max(txn) over records <= pointer`
    would return the abandoned batch's id and silently skip (lose) its
    replay. last_txn walks parent pointers instead."""
    t = ManagedTable.create(base, str(tmp_path / "t"), key="id")
    src0 = spark.createDataFrame([(1, 0, 111.0)], "id long, part long, value double")
    src1 = spark.createDataFrame([(2, 0, 222.0)], "id long, part long, value double")
    t._commit(t.read().filter("id != 1").unionByName(src0), extra={"txn": 0})  # v2
    t._commit(t.read().filter("id != 2").unionByName(src1), extra={"txn": 1})  # v3
    assert t.last_txn() == 1
    # operator decides batch 1 was bad: rollback past it, repair-commit
    t.rollback(2)
    assert t.last_txn() == 0
    t._commit(t.read())  # v4, parent=2 — abandoned v3 not in lineage
    assert t.version() == 4
    # the stream's replay of batch 1 must NOT be skipped
    assert t.last_txn() == 0
    # and a fresh stream batch advances the marker along the new chain
    t._commit(t.read(), extra={"txn": 1})  # v5
    assert t.last_txn() == 1


def test_delete_noop_predicate_null_digest_safe(spark, base, tmp_path):
    """code-review r9: a delete matching ZERO rows fingerprints to
    NULL xor/sum (aggregates over no rows) — the derived digest must
    treat NULL as the group identity, not crash on int ^ None."""
    t = ManagedTable.create(base, str(tmp_path / "t"), key="id")
    v = t.delete(F.col("id") > 10**9)  # matches nothing
    assert v == 2
    assert _rows(t.read()) == _rows(base)
    # digest stayed exactly the parent's (subtracting the identity)
    import json as _json

    with open(str(tmp_path / "t" / "_commits" / "1.json")) as f:
        p = _json.load(f)
    with open(str(tmp_path / "t" / "_commits" / "2.json")) as f:
        c = _json.load(f)
    assert (c["n_rows"], c["xor_hash"], c["sum_hash_mod"]) == (
        p["n_rows"],
        p["xor_hash"],
        p["sum_hash_mod"],
    )
    # and a further real delete on the DV chain still works
    t.delete(F.col("id") == 1)
    assert sorted(r["id"] for r in t.read().collect()) == [2, 3, 4, 5, 6, 7, 8]


def test_dv_and_clone_sidecars_publish_with_the_version(spark, tmp_path):
    """code-review r9: DV/clone manifests are copied INSIDE populate,
    so a published version can never exist without its sidecars (the
    after-commit copy left a crash window where the skipping layer
    silently vanished)."""
    df = spark.range(1, 201).select(
        F.col("id"), (F.col("id") % 5).alias("part"), (F.col("id") * 1.0).alias("value")
    )
    t = ManagedTable.create(
        df.repartition(4), str(tmp_path / "t"), key="id",
        stat_cols=["id"], bloom_col="id",
    )
    v = t.delete(F.col("id") == 7)
    vdir = _vd(tmp_path / "t", v)
    assert os.path.isfile(os.path.join(vdir, "_manifest.json"))
    assert os.path.isfile(os.path.join(vdir, "_bloom.json"))
    c = t.clone(str(tmp_path / "c"))
    assert os.path.isfile(os.path.join(_vd(tmp_path / "c", 1), "_manifest.json"))
    assert os.path.isfile(os.path.join(_vd(tmp_path / "c", 1), "_bloom.json"))
    got, fr, tot = c.lookup(42)
    assert [r["id"] for r in got.collect()] == [42] and fr < tot


def test_update_publishes_dv_plus_append_no_rewrite(spark, tmp_path):
    """Merge-on-read UPDATE: old images join the DV, new images land
    in the version's own _upd dir, base files untouched, reads exact,
    derived digest equals a rescan."""
    df = spark.range(1, 101).select(
        F.col("id"), (F.col("id") % 4).alias("part"), (F.col("id") * 1.0).alias("value")
    )
    t = ManagedTable.create(df.repartition(4), str(tmp_path / "t"), key="id")
    v1_files = sorted(
        (f, os.path.getsize(os.path.join(_vd(tmp_path / "t", 1), f)))
        for f in os.listdir(_vd(tmp_path / "t", 1))
        if f.startswith("part-")
    )
    v2 = t.update(F.col("id") % 10 == 3, {"value": F.col("value") * 2})
    assert v2 == 2
    # base untouched; v2 dir holds only _dv + _upd + metadata
    assert sorted(
        (f, os.path.getsize(os.path.join(_vd(tmp_path / "t", 1), f)))
        for f in os.listdir(_vd(tmp_path / "t", 1))
        if f.startswith("part-")
    ) == v1_files
    assert not [
        f for f in os.listdir(_vd(tmp_path / "t", 2)) if f.startswith("part-")
    ]
    assert os.path.isdir(os.path.join(_vd(tmp_path / "t", 2), "_upd"))
    got = {r["id"]: r["value"] for r in t.read().collect()}
    assert len(got) == 100
    for i in range(1, 101):
        assert got[i] == (i * 2.0 if i % 10 == 3 else i * 1.0)
    # time travel intact
    assert {r["id"]: r["value"] for r in t.read(version=1).collect()}[3] == 3.0
    # derived digest equals a rescan of the logical content
    import json as _json

    from strava_etl_public_spark.operators.layout import dataset_fingerprint

    with open(str(tmp_path / "t" / "_commits" / "2.json")) as f:
        rec = _json.load(f)
    fp = dataset_fingerprint(t.read()).collect()[0].asDict()
    assert (rec["n_rows"], rec["xor_hash"], rec["sum_hash_mod"]) == (
        fp["n_rows"],
        fp["xor_hash"],
        fp["sum_hash_mod"],
    )


def test_update_null_cond_rows_not_updated(spark, tmp_path):
    """SQL UPDATE: rows where the predicate is NULL are left alone."""
    df = spark.createDataFrame(
        [(1, None, 10.0), (2, True, 20.0), (3, False, 30.0)],
        "id long, flag boolean, value double",
    )
    t = ManagedTable.create(df, str(tmp_path / "t"), key="id")
    t.update(F.col("flag"), {"value": F.lit(-1.0)})
    got = {r["id"]: r["value"] for r in t.read().collect()}
    assert got == {1: 10.0, 2: -1.0, 3: 30.0}


def test_update_then_delete_then_optimize_chain(spark, tmp_path):
    """Chained merge-on-read ops stay one-hop and OPTIMIZE folds the
    DV + appends away losslessly."""
    df = spark.range(1, 51).select(F.col("id"), (F.col("id") * 1.0).alias("value"))
    t = ManagedTable.create(df.repartition(4), str(tmp_path / "t"), key="id")
    t.update(F.col("id") <= 10, {"value": F.col("value") + 100})
    t.delete(F.col("id").between(5, 15))
    t.update(F.col("id") == 20, {"value": F.lit(0.0)})
    expect = {}
    for i in range(1, 51):
        if 5 <= i <= 15:
            continue
        v = i * 1.0 + (100 if i <= 10 else 0)
        expect[i] = 0.0 if i == 20 else v
    got = {r["id"]: r["value"] for r in t.read().collect()}
    assert got == expect
    # updating an APPENDED row works (id<=10 appended in v2; id=7 deleted;
    # id=3 survives and was updated again below)
    t.update(F.col("id") == 3, {"value": F.col("value") * 10})
    expect[3] = 1030.0
    assert {r["id"]: r["value"] for r in t.read().collect()} == expect
    v_opt = t.optimize()
    assert {r["id"]: r["value"] for r in t.read().collect()} == expect
    assert not os.path.isdir(os.path.join(_vd(tmp_path / "t", v_opt), "_dv"))
    assert not os.path.isdir(os.path.join(_vd(tmp_path / "t", v_opt), "_upd"))


def test_update_scan_and_lookup_see_appended_rows(spark, tmp_path):
    """The skipping layers stay exact under appends: appended files
    are always read (no manifest/bloom entries), DV rows excluded."""
    df = spark.range(1, 401).select(
        F.col("id"), (F.col("id") % 7).alias("g"), F.col("id").cast("double").alias("v")
    )
    t = ManagedTable.create(
        df.repartitionByRange(8, "id").sortWithinPartitions("id"),
        str(tmp_path / "t"),
        key="id",
        stat_cols=["id"],
        bloom_col="id",
    )
    # move id=42 to the top of the domain via update
    t.update(F.col("id") == 42, {"id": F.lit(9999).cast("long")})
    sdf, fr, tot = t.scan("id", 9000, 10000)
    assert [r["id"] for r in sdf.collect()] == [9999]
    assert fr < tot  # base files still pruned by the inherited manifest
    got, fr2, _ = t.lookup(9999)
    assert [r["id"] for r in got.collect()] == [9999]
    # the OLD image is dead: neither scan nor lookup resurrects 42
    assert t.lookup(42)[0].count() == 0
    assert t.scan("id", 42, 42)[0].count() == 0


def test_update_respects_check_constraints(spark, tmp_path):
    df = spark.createDataFrame([(1, 10.0), (2, 20.0)], "id long, v double")
    t = ManagedTable.create(df, str(tmp_path / "t"), key="id")
    t.add_constraint("v_pos", "v > 0")
    import pytest as _pytest

    with _pytest.raises(ValueError, match="v_pos"):
        t.update(F.col("id") == 1, {"v": F.lit(-5.0)})
    assert t.version() == 1  # refused, version unchanged
    t.update(F.col("id") == 1, {"v": F.lit(5.0)})
    assert {r["id"]: r["v"] for r in t.read().collect()} == {1: 5.0, 2: 20.0}


def test_restore_is_forward_commit_preserving_txn(spark, base, tmp_path):
    """RESTORE: new version, old content, zero copy — and unlike
    rollback it does NOT re-open streaming replay (txn markers stay)."""
    t = ManagedTable.create(base, str(tmp_path / "t"), key="id")
    t._commit(t.read().withColumn("value", F.col("value") + 1), extra={"txn": 0})
    t._commit(t.read().withColumn("value", F.col("value") + 1), extra={"txn": 1})
    v4 = t.restore(2)
    assert v4 == 4 and t.version() == 4
    assert _rows(t.read()) == _rows(t.read(version=2))
    # zero copy: v4 holds no data files
    assert not [
        f for f in os.listdir(_vd(tmp_path / "t", 4)) if f.startswith("part-")
    ]
    # forward lineage: txn marker NOT reset (Delta RESTORE semantics)
    assert t.last_txn() == 1
    # restoring a DV version carries its DV + appends
    t.update(F.col("id") == 1, {"value": F.lit(0.0)})  # v5
    t.delete(F.col("id") == 2)  # v6
    v7 = t.restore(5)
    assert _rows(t.read(version=v7)) == _rows(t.read(version=5))


def test_as_of_timestamp_walks_lineage(spark, base, tmp_path):
    """TIMESTAMP AS OF resolves on the lineage chain with injected
    deterministic commit times."""
    import pytest as _pytest

    t = ManagedTable.create(base, str(tmp_path / "t"), key="id")
    # inject explicit commit timestamps (tests own determinism)
    t._commit(t.read().filter("id != 1"), extra={"ts": 1000.0})  # v2
    t._commit(t.read().filter("id != 2"), extra={"ts": 2000.0})  # v3
    assert t.as_of(1500.0).count() == 7  # v2
    assert t.as_of(2000.0).count() == 6  # v3 (inclusive)
    assert t.as_of(10**12).count() == 6  # far future = latest
    # rollback abandons v3; a recommit branches; as_of never serves v3
    t.rollback(2)
    t._commit(t.read().filter("id != 3"), extra={"ts": 3000.0})  # v4, parent 2
    assert t.as_of(2500.0).count() == 7  # v2, NOT the abandoned v3
    with _pytest.raises(ValueError, match="no published version"):
        ManagedTable(spark, str(tmp_path / "t")).as_of(1.0)


def test_vacuum_pins_update_append_dirs(spark, tmp_path):
    """A surviving version whose appends reference an older version's
    _upd dir pins that version against vacuum."""
    df = spark.range(1, 31).select(F.col("id"), (F.col("id") * 1.0).alias("v"))
    t = ManagedTable.create(df.repartition(2), str(tmp_path / "t"), key="id")
    t.update(F.col("id") == 5, {"v": F.lit(-5.0)})  # v2: appends [self]
    t.delete(F.col("id") == 9)  # v3: appends [v2/_upd]
    t.delete(F.col("id") == 10)  # v4
    t.delete(F.col("id") == 11)  # v5
    removed = t.vacuum(keep_last=2)
    # v1 (base) and v2 (_upd referenced by survivors) must both be pinned
    assert 1 not in removed and 2 not in removed
    got = {r["id"]: r["v"] for r in t.read().collect()}
    assert got[5] == -5.0 and 9 not in got and len(got) == 27


def test_vacuum_retention_window_protects_recent_versions(spark, base, tmp_path):
    """older_than_ts adds Delta's RETAIN semantics: versions committed
    at/after the cutoff survive even past keep_last, so as_of keeps
    working across the retained window; legacy records without ts are
    conservatively protected."""
    t = ManagedTable.create(base, str(tmp_path / "t"), key="id")
    for i, ts in enumerate([1000.0, 2000.0, 3000.0, 4000.0]):
        t._commit(t.read().filter(f"id != {i + 1}"), extra={"ts": ts})
    # keep_last=1 alone would drop v1..v4; retention pins v3,v4 (ts>=2500)
    removed = t.vacuum(keep_last=1, older_than_ts=2500.0)
    assert 4 not in removed and 5 not in removed
    assert set(removed) <= {1, 2, 3}
    # v1 carries a real wall-clock ts (auto-stamped) far above 2500 —
    # it too is protected; only the explicit old ts versions vanish
    assert removed == [2, 3]
    assert t.as_of(3000.0).count() == 5  # v4 still readable
    # time travel into a vacuumed version raises loudly
    import pytest as _pytest

    with _pytest.raises(ValueError, match="does not exist"):
        t.read(version=2).count()


def test_optimize_zorder_prunes_on_both_columns(spark, tmp_path):
    """Z-ORDER clustering gives BOTH columns manifest locality: after
    optimize(zorder=True), a selective range scan on either column
    opens a strict subset of files; lexicographic range clustering on
    (a, b) would prune only a. Content losslessness is digest-proven
    by optimize itself."""
    import random

    rng = random.Random(7)
    rows = [(i, rng.randint(0, 9999), rng.randint(0, 9999)) for i in range(20000)]
    df = spark.createDataFrame(rows, "id long, a long, b long")
    t = ManagedTable.create(
        df.repartition(16), str(tmp_path / "t"), key="id", stat_cols=["a", "b"]
    )
    # random layout: no pruning on either column
    _, fr_a0, tot0 = t.scan("a", 0, 499)
    _, fr_b0, _ = t.scan("b", 0, 499)
    assert fr_a0 == tot0 and fr_b0 == tot0
    t.optimize(target_bytes=4096, cluster_by=["a", "b"], zorder=True)
    got_a, fr_a, tot = t.scan("a", 0, 499)
    got_b, fr_b, _ = t.scan("b", 0, 499)
    assert tot >= 8  # enough files for pruning to mean something
    assert fr_a < tot and fr_b < tot  # BOTH columns prune
    # exactness survives the prune
    assert got_a.count() == sum(1 for _, a, _b in rows if a <= 499)
    assert got_b.count() == sum(1 for _, _a, b in rows if b <= 499)
    # comparison: lexicographic clustering prunes a but not b
    t2 = ManagedTable.create(
        df.repartition(16), str(tmp_path / "t2"), key="id", stat_cols=["a", "b"]
    )
    t2.optimize(target_bytes=4096, cluster_by=["a", "b"])
    _, fr_a2, tot2 = t2.scan("a", 0, 499)
    _, fr_b2, _ = t2.scan("b", 0, 499)
    assert fr_a2 < tot2  # first column prunes under lexicographic too
    # zorder prunes the SECOND column strictly better than
    # lexicographic (which leaves b spanning ~the whole domain per file)
    assert fr_b / tot < fr_b2 / tot2


def test_optimize_zorder_validations(spark, base, tmp_path):
    import pytest as _pytest

    t = ManagedTable.create(base, str(tmp_path / "t"), key="id")
    with _pytest.raises(ValueError, match="zorder needs"):
        t.optimize(cluster_by=["id"], zorder=True)
    with _pytest.raises(ValueError, match="zorder needs"):
        t.optimize(zorder=True)


def test_transact_retries_commit_conflicts_and_reapplies(spark, base, tmp_path):
    """OCC loop: the op's first attempt loses the O_EXCL record race
    to a competing writer (the loser path every commit op raises as
    FileExistsError); transact re-applies the logical op against the
    post-winner state and both writers' effects land serially."""
    t = ManagedTable.create(base, str(tmp_path / "t"), key="id")
    t2 = ManagedTable(spark, str(tmp_path / "t"))  # concurrent handle

    attempts = {"n": 0}

    from strava_etl_public_spark.operators.table_log import CommitConflict

    def op(tab):
        if attempts["n"] == 0:
            attempts["n"] += 1
            # the competing writer lands mid-op; the commit layer's
            # stale-inputs guard raises — simulated here, exercised
            # for real in test_transact_detects_real_interleaved_commit
            t2.update(F.col("id") == 2, {"value": F.lit(222.0)})
            raise CommitConflict("competing record landed mid-op")
        return tab.delete(F.col("id") == 1)

    v = t.transact(op)
    assert attempts["n"] == 1
    got = {r["id"]: r["value"] for r in t.read(version=v).collect()}
    assert 1 not in got  # our delete applied on retry
    assert got[2] == 222.0  # ON TOP of the winner's update (serial order)
    assert t.version() == v


def test_transact_gives_up_loudly_after_max_retries(spark, base, tmp_path):
    t = ManagedTable.create(base, str(tmp_path / "t"), key="id")

    from strava_etl_public_spark.operators.table_log import CommitConflict

    def always_conflicts(tab):
        raise CommitConflict("synthetic permanent conflict")

    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="commit conflict persisted"):
        t.transact(always_conflicts, max_retries=2)


def test_rename_column_is_metadata_only_and_versioned(spark, base, tmp_path):
    """RENAME COLUMN: O(1) metadata commit (zero data files moved),
    digest inherited, time travel serves each version under the schema
    it was published with, and every op keeps working through the map."""
    import json as _json

    t = ManagedTable.create(base, str(tmp_path / "t"), key="id")
    v2 = t.rename_column("value", "score")
    assert v2 == 2
    # zero-copy: no data files in v2; digest inherited verbatim
    assert not [
        f for f in os.listdir(_vd(tmp_path / "t", 2)) if f.startswith("part-")
    ]
    with open(str(tmp_path / "t" / "_commits" / "1.json")) as f:
        d1 = _json.load(f)
    with open(str(tmp_path / "t" / "_commits" / "2.json")) as f:
        d2 = _json.load(f)
    assert (d1["n_rows"], d1["xor_hash"]) == (d2["n_rows"], d2["xor_hash"])
    # current read speaks the new schema; time travel the old one
    assert t.read().columns == ["id", "part", "score"]
    assert t.read(version=1).columns == ["id", "part", "value"]
    assert {r["id"]: r["score"] for r in t.read().collect()}[3] == 30.0
    # ops through the map: update, delete, merge — all on logical names
    t.update(F.col("score") == 30.0, {"score": F.lit(33.0)})
    t.delete(F.col("id") == 8)
    src = spark.createDataFrame(
        [(3, 0, 333.0), (100, 1, 1.0)], "id long, part long, score double"
    )
    t.merge(src)
    got = {r["id"]: r["score"] for r in t.read().collect()}
    assert got[3] == 333.0 and got[100] == 1.0 and 8 not in got
    assert len(got) == 8
    # rename refuses collisions
    import pytest as _pytest

    with _pytest.raises(ValueError, match="already exists"):
        t.rename_column("score", "part")


def test_drop_column_hides_without_rewrite(spark, base, tmp_path):
    import json as _json

    t = ManagedTable.create(base, str(tmp_path / "t"), key="id")
    v2 = t.drop_column("part")
    assert not [
        f for f in os.listdir(_vd(tmp_path / "t", 2)) if f.startswith("part-")
    ]
    assert t.read().columns == ["id", "value"]
    assert t.read(version=1).columns == ["id", "part", "value"]
    # the digest was RESCANNED over the narrowed view (drop changes
    # row hashes): record equals a fresh fingerprint of read()
    from strava_etl_public_spark.operators.layout import dataset_fingerprint

    with open(str(tmp_path / "t" / "_commits" / "2.json")) as f:
        rec = _json.load(f)
    fp = dataset_fingerprint(t.read()).collect()[0].asDict()
    assert (rec["n_rows"], rec["xor_hash"], rec["sum_hash_mod"]) == (
        fp["n_rows"],
        fp["xor_hash"],
        fp["sum_hash_mod"],
    )
    # key columns cannot be dropped
    import pytest as _pytest

    with _pytest.raises(ValueError, match="key column"):
        t.drop_column("id")
    # merge after the drop works on the narrowed schema
    t.merge(spark.createDataFrame([(1, -1.0)], "id long, value double"))
    assert {r["id"]: r["value"] for r in t.read().collect()}[1] == -1.0


def test_column_map_survives_update_optimize_and_restore(spark, tmp_path):
    """The map rides every commit kind: DV update writes _upd files in
    the PHYSICAL schema (NULL-backfilled dropped columns), OPTIMIZE
    rewrites physically and purges dropped columns, restore brings
    back the restored version's schema."""
    df = spark.range(1, 41).select(
        F.col("id"), (F.col("id") % 3).alias("aux"), (F.col("id") * 1.0).alias("v")
    )
    t = ManagedTable.create(df.repartition(4), str(tmp_path / "t"), key="id")
    t.rename_column("v", "metric")  # v2
    t.drop_column("aux")  # v3
    assert t.read().columns == ["id", "metric"]
    t.update(F.col("id") <= 5, {"metric": F.col("metric") * 100})  # v4
    t.delete(F.col("id") == 40)  # v5
    got = {r["id"]: r["metric"] for r in t.read().collect()}
    assert got[5] == 500.0 and got[6] == 6.0 and 40 not in got
    v6 = t.optimize()  # physical rewrite purges 'aux'
    assert t.read().columns == ["id", "metric"]
    phys = spark.read.parquet(_vd(tmp_path / "t", v6))
    assert sorted(phys.columns) == ["id", "v"]  # physical names, purged
    assert {r["id"]: r["metric"] for r in t.read().collect()} == got
    # restore to v1 brings the ORIGINAL schema back
    v7 = t.restore(1)
    assert t.read(version=v7).columns == ["id", "aux", "v"]
    # and a restore forward to the mapped state restores map + content
    v8 = t.restore(5)
    assert t.read(version=v8).columns == ["id", "metric"]
    assert {r["id"]: r["metric"] for r in t.read().collect()} == got


def test_column_map_scan_lookup_and_changes(spark, tmp_path):
    df = spark.range(1, 301).select(
        F.col("id"), (F.col("id") * 2).alias("v")
    )
    t = ManagedTable.create(
        df.repartitionByRange(8, "id").sortWithinPartitions("id"),
        str(tmp_path / "t"),
        key="id",
        stat_cols=["id"],
        bloom_col="id",
    )
    t.rename_column("v", "doubled")
    t.delete(F.col("id") == 250)  # a DV version under the map
    sdf, fr, tot = t.scan("id", 1, 40)
    assert sdf.columns == ["id", "doubled"]
    assert fr < tot and sdf.count() == 40
    got, fr2, tot2 = t.lookup(42)
    assert got.columns == ["id", "doubled"]
    assert [(r["id"], r["doubled"]) for r in got.collect()] == [(42, 84)]
    assert fr2 < tot2
    # CDC across the rename range uses the current logical key
    ch = t.changes(2, 3)
    assert [r["id"] for r in ch.collect()] == [250]
    # schema evolution on a mapped table extends the map
    t.merge(
        spark.createDataFrame([(500, 1000, "x")], "id long, doubled long, tag string"),
        evolve_schema=True,
    )
    assert t.read().columns == ["id", "doubled", "tag"]
    got2 = {r["id"]: (r["doubled"], r["tag"]) for r in t.read().collect()}
    assert got2[500] == (1000, "x") and got2[42] == (84, None)


def test_transact_detects_real_interleaved_commit(spark, base, tmp_path, monkeypatch):
    """code-review r9 (lost update): a competing commit landing while
    an op derives its write set — AFTER the op captured the table
    state, BEFORE its commit record — must raise CommitConflict, not
    publish a version built from stale inputs that silently reverts
    the winner. The hook fires the competing writer from INSIDE the
    loser's populate (mid-window, deterministically)."""
    from strava_etl_public_spark.operators.table import ManagedTable as MT

    t = MT.create(base, str(tmp_path / "t"), key="id")
    t2 = MT(spark, str(tmp_path / "t"))
    orig = MT._inherit_sidecars
    fired = {"done": False}

    def hooked(src_vdir, dst_vdir):
        if not fired["done"]:
            fired["done"] = True  # set BEFORE the competing commit
            t2.update(F.col("id") == 2, {"value": F.lit(222.0)})
        return orig(src_vdir, dst_vdir)

    monkeypatch.setattr(MT, "_inherit_sidecars", staticmethod(hooked))
    v = t.transact(lambda tab: tab.delete(F.col("id") == 1))
    # both effects present: the winner's update NOT reverted, and the
    # loser's delete re-applied on top (serial order winner→loser)
    got = {r["id"]: r["value"] for r in t.read(version=v).collect()}
    assert 1 not in got and got[2] == 222.0
    assert fired["done"]


def test_raw_op_raises_commit_conflict_outside_transact(
    spark, base, tmp_path, monkeypatch
):
    """Without transact, the interleaved commit surfaces as a LOUD
    CommitConflict — never a silent lost update."""
    from strava_etl_public_spark.operators.table_log import CommitConflict
    from strava_etl_public_spark.operators.table import ManagedTable as MT

    t = MT.create(base, str(tmp_path / "t"), key="id")
    t2 = MT(spark, str(tmp_path / "t"))
    orig = MT._inherit_sidecars
    fired = {"done": False}

    def hooked(src_vdir, dst_vdir):
        if not fired["done"]:
            fired["done"] = True
            t2.update(F.col("id") == 2, {"value": F.lit(222.0)})
        return orig(src_vdir, dst_vdir)

    monkeypatch.setattr(MT, "_inherit_sidecars", staticmethod(hooked))
    import pytest as _pytest

    with _pytest.raises(CommitConflict):
        t.delete(F.col("id") == 1)
    # the winner's commit is intact and current
    assert {r["id"]: r["value"] for r in t.read().collect()}[2] == 222.0


def test_update_casts_set_exprs_to_column_type(spark, tmp_path):
    """code-review r9: an uncast int literal into a double column wrote
    _upd files type-incompatible with the base — published fine, every
    later read threw. SET expressions now cast to the existing type."""
    df = spark.createDataFrame([(1, 10.0), (2, 20.0)], "id long, v double")
    t = ManagedTable.create(df, str(tmp_path / "t"), key="id")
    t.update(F.col("id") == 1, {"v": F.lit(1)})  # int literal, double col
    got = {r["id"]: r["v"] for r in t.read().collect()}
    assert got == {1: 1.0, 2: 20.0}
    # chained ops over the mixed universe keep working
    t.delete(F.col("id") == 2)
    assert t.optimize() > 0


def test_rename_guard_is_token_match_not_substring(spark, tmp_path):
    """code-review r9: 'v' in 'value > 0' must NOT block renaming the
    unrelated column v; renaming value itself stays refused."""
    df = spark.createDataFrame([(1, 2.0, 3.0)], "id long, v double, value double")
    t = ManagedTable.create(df, str(tmp_path / "t"), key="id")
    t.add_constraint("val_pos", "value > 0")
    t.rename_column("v", "speed")  # legal — constraint says value, not v
    assert t.read().columns == ["id", "speed", "value"]
    import pytest as _pytest

    with _pytest.raises(ValueError, match="referenced by CHECK"):
        t.rename_column("value", "val2")


def test_transact_does_not_swallow_unrelated_fileexists(spark, base, tmp_path):
    """code-review r9: transact retries ONLY CommitConflict — an
    unrelated FileExistsError (existing clone destination, config
    O_EXCL) surfaces immediately instead of burning retries and then
    masking the real error."""
    t = ManagedTable.create(base, str(tmp_path / "t"), key="id")
    calls = {"n": 0}

    def op(tab):
        calls["n"] += 1
        raise FileExistsError("destination already exists")

    import pytest as _pytest

    with _pytest.raises(FileExistsError, match="destination already exists"):
        t.transact(op)
    assert calls["n"] == 1  # no retries
