"""spark.read.format("managed_table") — the batch DataSource with
filter-pushdown file pruning.

Pins: the source serves exactly ManagedTable.read() (DV exclusion,
dead files, column mapping, added columns, widened types); a pushed
range filter prunes partitions through the zone-map manifest; a
pushed equality on the bloom column prunes through the bloom
manifest; pruning never changes results (prune-only pushdown — Spark
re-applies every predicate); the source stays correct with pushdown
disabled; time travel via the version option."""

import shutil

import pytest
from pyspark.sql import functions as F

from tests.vdir_helper import vd as _vd

from strava_etl_public_spark.operators.table import ManagedTable
from strava_etl_public_spark.sources.table_batch import register_table_source


@pytest.fixture(scope="module")
def spark():
    from strava_etl_public_spark.session import get_spark

    s = get_spark()
    register_table_source(s)
    s.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    return s


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _mk(spark, path, **kw):
    # range-clustered on id: disjoint per-file ranges, so the
    # zone-map prune has something to work with
    df = spark.createDataFrame(
        [(i, i % 8, i * 10) for i in range(1, 161)],
        "id long, bucket long, val long",
    ).repartitionByRange(8, "id").sortWithinPartitions("id")
    return ManagedTable.create(df, path, key="id", **kw)


def _load(spark, path, **opts):
    r = spark.read.format("managed_table").option("path", path)
    for k, v in opts.items():
        r = r.option(k, v)
    return r.load()


def test_source_equals_read_across_dml(spark, tmp_path):
    path = str(tmp_path / "t")
    t = _mk(spark, path)
    t.delete(F.col("id") % 5 == 0)
    t.update(F.col("id") == 7, {"val": F.lit(-7)})
    t.append(
        spark.createDataFrame([(500, 0, 1)], "id long, bucket long, val long")
    )
    assert _rows(_load(spark, path)) == _rows(t.read())


def test_pushed_range_filter_prunes_files(spark, tmp_path):
    # both manifest representations: inline JSON and the parquet relation
    for fmt in ("json", "parquet"):
        path = str(tmp_path / fmt)
        _mk(spark, path, stat_cols=["id"], manifest_format=fmt)
        full = _load(spark, path)
        pruned = _load(spark, path).filter(F.col("id") <= 20)
        n_full = full.rdd.getNumPartitions()
        n_pruned = pruned.rdd.getNumPartitions()
        assert n_full == 8
        assert n_pruned < n_full  # manifest pruned the out-of-range files
        assert sorted(r["id"] for r in pruned.collect()) == list(range(1, 21))


def test_pushed_bloom_equality_prunes_files(spark, tmp_path):
    # both manifest representations: inline JSON and the parquet relation
    for fmt in ("json", "parquet"):
        path = str(tmp_path / fmt)
        t = _mk(spark, path, bloom_col="id", manifest_format=fmt)
        hit = _load(spark, path).filter(F.col("id") == 55)
        assert hit.rdd.getNumPartitions() < 8
        assert [tuple(r) for r in hit.collect()] == [(55, 55 % 8, 550)]
        # a deleted key: still zero rows through the DV
        t.delete(F.col("id") == 55)
        assert _load(spark, path).filter(F.col("id") == 55).count() == 0


def test_pruning_is_only_an_optimization(spark, tmp_path):
    """Pruned results equal the exact filter (prune-only contract:
    Spark re-applies every predicate), and with the pushdown conf off
    the ENGINE refuses the reader loudly, naming the conf — never a
    silently unpruned-but-different answer."""
    path = str(tmp_path / "t")
    _mk(spark, path, stat_cols=["id"])
    q = lambda: _load(spark, path).filter(
        (F.col("id") > 40) & (F.col("id") <= 60)
    )
    with_push = _rows(q())
    assert [r[0] for r in with_push] == list(range(41, 61))
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "false")
    try:
        with pytest.raises(Exception, match="filterPushdown"):
            q().collect()
    finally:
        spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")


def test_schema_evolution_through_source(spark, tmp_path):
    path = str(tmp_path / "t")
    t = _mk(spark, path)
    t.rename_column("val", "speed")
    t.add_column("note", "string")
    df = _load(spark, path)
    assert df.columns == ["id", "bucket", "speed", "note"]
    row = df.filter(F.col("id") == 3).collect()[0]
    assert row["speed"] == 30 and row["note"] is None


def test_version_time_travel_option(spark, tmp_path):
    path = str(tmp_path / "t")
    t = _mk(spark, path)
    v1 = t.version()
    t.delete(F.col("id") <= 100)
    old = _load(spark, path, version=v1)
    assert old.count() == 160
    assert _load(spark, path).count() == 60


def test_source_after_compaction_and_widen(spark, tmp_path):
    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, i % 8, i * 10) for i in range(1, 161)],
        "id int, bucket int, val int",
    ).repartitionByRange(8, "id").sortWithinPartitions("id")
    t = ManagedTable.create(df, path, key="id")
    t.widen_column("val", "long")
    t.delete(F.col("id") <= 60)
    assert t.compact(dead_frac=0.2) is not None
    got = _load(spark, path)
    assert got.schema["val"].dataType.simpleString() == "bigint"
    assert _rows(got) == _rows(t.read())


def test_source_refuses_reclaimed_old_version(spark, tmp_path):
    """The pyarrow-side source applies the same tombstone guard as
    the engine read path: an old version that reads reclaim_dead-
    removed files refuses loudly; the current version serves fine."""
    path = str(tmp_path / "t")
    t = _mk(spark, path)
    t.delete(F.col("id") <= 100)
    assert t.compact(dead_frac=0.2) is not None
    t.delete(F.col("id") > 150)
    t.vacuum(keep_last=2, reclaim_dead=True)
    assert _load(spark, path).count() == t.read().count()
    with pytest.raises(Exception, match="reclaim_dead|retention"):
        _load(spark, path, version=1).count()
    # a DV version whose base dir is gone: the named error, not a bare
    # FileNotFoundError from a directory listing
    p2 = str(tmp_path / "t2")
    t2 = _mk(spark, p2)
    t2.delete(F.col("id") <= 10)
    shutil.rmtree(_vd(p2, 1))
    with pytest.raises(Exception, match="no longer exists"):
        _load(spark, p2).count()


def test_every_pushed_predicate_kind_plans_and_matches(spark, tmp_path):
    """One end-to-end per predicate KIND the engine may push (r11
    lesson, verdict #9: the In-filter planning crash — pyspark's In
    dataclass field is `value`, not `values` — shipped in r10 because
    pushdown had tests only for eq/range; a missing KIND is a
    planning crash no generic test catches). The source's prune-only
    contract means every kind must (a) plan without error with
    pushdown ON and (b) return exactly what the same filter returns
    on t.read(); kinds the pruner doesn't understand must flow back
    to Spark untouched. Run over a table with a DV delete, an update,
    a rename (column map), and NULLs in play — the compound surface."""
    path = str(tmp_path / "t")
    t = _mk(spark, path, stat_cols=["id"], bloom_col="id")
    t.delete(F.col("id") % 7 == 0)
    t.update(F.col("id") == 11, {"val": F.lit(None).cast("long")})
    t.rename_column("val", "speed")
    t.append(
        spark.createDataFrame(
            [(900, 3, None)], "id long, bucket long, speed long"
        )
    )

    preds = {
        "eq": F.col("id") == 55,
        "eq_to_deleted": F.col("id") == 14,  # DV'd row: zero rows
        "gt": F.col("id") > 150,
        "gte": F.col("id") >= 150,
        "lt": F.col("id") < 5,
        "lte": F.col("id") <= 5,
        "in": F.col("id").isin(3, 55, 900, 14, -1),
        "in_renamed": F.col("speed").isin(30, 550),
        "isnull": F.col("speed").isNull(),
        "isnotnull": F.col("speed").isNotNull(),
        "eq_null_safe": F.col("speed").eqNullSafe(None),
        "not": ~(F.col("id") <= 150),
        "not_in": ~F.col("id").isin(3, 55),
        "and_mixed": (F.col("id") > 10) & F.col("speed").isNotNull(),
        "or_mixed": (F.col("id") == 3) | F.col("speed").isNull(),
        "cast_str_startswith": F.col("id").cast("string").startswith("1"),
    }
    for name, pred in preds.items():
        got = _rows(_load(spark, path).filter(pred))
        want = _rows(t.read().filter(pred))
        assert got == want, f"predicate kind {name!r} diverged"
