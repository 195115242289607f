"""Z-order layout: Morton key correctness vs a python reference, and
the locality property the layout exists for — per-partition spans
shrink on BOTH interleaved columns, where a plain sort shrinks only
its own column."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from strava_etl_public_spark.operators.layout import z_value, zorder_layout


def _z_ref(x: int, y: int, bits: int = 16) -> int:
    z = 0
    for i in range(bits):
        z |= ((x >> i) & 1) << (2 * i)
        z |= ((y >> i) & 1) << (2 * i + 1)
    return z


def test_z_value_matches_reference(spark):
    pdf = pd.DataFrame(
        {
            "x": [0, 1, 2, 3, 255, 65535, 12345],
            "y": [0, 1, 3, 2, 255, 65535, 54321],
        }
    )
    out = (
        spark.createDataFrame(pdf)
        .select("x", "y", z_value(["x", "y"]).alias("z"))
        .toPandas()
    )
    for _, r in out.iterrows():
        assert r.z == _z_ref(int(r.x), int(r.y))


def test_z_value_rejects_overflow():
    with pytest.raises(ValueError, match="BIGINT"):
        z_value(["a", "b", "c", "d"], bits=16)


def test_z_value_three_columns_and_masking(spark):
    def ref3(x, y, w, bits=8):
        z = 0
        for i in range(bits):
            z |= ((x >> i) & 1) << (3 * i)
            z |= ((y >> i) & 1) << (3 * i + 1)
            z |= ((w >> i) & 1) << (3 * i + 2)
        return z

    pdf = pd.DataFrame(
        {"x": [5, 255, 300], "y": [9, 128, -1], "w": [2, 7, 511]}
    )
    out = (
        spark.createDataFrame(pdf)
        .select("x", "y", "w", z_value(["x", "y", "w"], bits=8).alias("z"))
        .toPandas()
    )
    for _, r in out.iterrows():
        # inputs are masked to the low `bits` (values mod 2^bits;
        # negatives take their two's-complement low bits)
        assert r.z == ref3(int(r.x) & 255, int(r.y) & 255, int(r.w) & 255)


def test_zorder_layout_localizes_both_columns(spark):
    # a 64x64 grid: plain sort on x gives y-span ~global per partition;
    # z-order shrinks the mean span on BOTH axes
    grid = spark.range(64 * 64).select(
        (F.col("id") % 64).alias("x"), (F.col("id") / 64).cast("long").alias("y")
    )

    def mean_spans(df):
        spans = (
            df.withColumn("p", F.spark_partition_id())
            .groupBy("p")
            .agg(
                (F.max("x") - F.min("x")).alias("sx"),
                (F.max("y") - F.min("y")).alias("sy"),
            )
            .agg(F.avg("sx").alias("sx"), F.avg("sy").alias("sy"))
            .collect()[0]
        )
        return spans["sx"], spans["sy"]

    zx, zy = mean_spans(zorder_layout(grid, ["x", "y"], bits=6, n_files=16))
    px, py = mean_spans(grid.repartitionByRange(16, "x").sortWithinPartitions("x"))
    # plain x-sort: x-span tiny, y-span ~ full 63
    assert px < 8 and py > 48
    # z-order: BOTH spans well under the global 63
    assert zx < 32 and zy < 32


def test_compact_parquet_reduces_files_preserves_rows(spark, tmp_path):
    from strava_etl_public_spark.operators.layout import compact_parquet

    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    df = spark.range(20_000).select(
        F.col("id"), (F.col("id") % 97).alias("k")
    )
    df.repartition(40).write.parquet(src)  # the small-files disease

    import glob

    n_src = len(glob.glob(f"{src}/*.parquet"))
    assert n_src >= 40
    # tiny target so the test exercises >1 output file
    total = sum(
        __import__("os").path.getsize(p) for p in glob.glob(f"{src}/*.parquet")
    )
    n_out = compact_parquet(spark, src, dst, target_bytes=total // 3 + 1, sort_cols=["k"])
    n_dst = len(glob.glob(f"{dst}/*.parquet"))
    assert n_dst == n_out <= 4 < n_src
    # content identical
    a = spark.read.parquet(src).orderBy("id").toPandas()
    b = spark.read.parquet(dst).orderBy("id").toPandas()
    pd.testing.assert_frame_equal(a.reset_index(drop=True), b.reset_index(drop=True))


def test_hive_partition_pruning(spark, sf_dir, tmp_path):
    """A filter on the partition column must show up as a
    PartitionFilter (directory pruning), not a data filter — and the
    pruned read returns exactly the partition's rows."""
    from strava_etl_public_spark.operators.layout import hive_partitioned_write

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = str(tmp_path / "by_type")
    hive_partitioned_write(ev, out, ["event_type"])

    back = spark.read.parquet(out).filter(F.col("event_type") == "click")
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "click" in plan, plan
    # no row-level filter needed for the partition column
    n_expect = ev.filter(F.col("event_type") == "click").count()
    assert back.count() == n_expect
    # every column round-trips (partition col restored from the path)
    assert set(back.columns) == set(ev.columns)


def test_assign_global_ids_matches_window_and_avoids_single_partition(spark, sf_dir):
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from strava_etl_public_spark.operators.layout import assign_global_ids

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select("event_id", "user_id")
    out = assign_global_ids(ev, ["event_id"], num_partitions=7)
    got = out.toPandas().sort_values("event_id")
    # exact row_number over the total order
    naive = ev.withColumn(
        "row_id", F.row_number().over(Window.orderBy("event_id")).cast("long")
    )
    want = naive.toPandas().sort_values("event_id")
    assert list(got.row_id) == list(want.row_id)
    assert got.row_id.min() == 1 and got.row_id.max() == len(got)
    # the naive plan funnels through ONE partition; ours must not
    naive_plan = naive._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" in naive_plan
    our_plan = out._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in our_plan


def test_assign_global_ids_contiguous_under_ties(spark):
    import pandas as pd

    from strava_etl_public_spark.operators.layout import assign_global_ids

    # non-unique order column: numbering within ties is arbitrary but
    # must stay a contiguous 1:1 assignment
    df = spark.createDataFrame(pd.DataFrame({"k": [5, 5, 5, 1, 1, 9]}))
    got = assign_global_ids(df, ["k"], num_partitions=3).toPandas()
    assert sorted(got.row_id) == [1, 2, 3, 4, 5, 6]
    ranks = got.sort_values("row_id").k.tolist()
    assert ranks == sorted(ranks)


def test_assign_global_ids_bin_collisions_and_determinism(spark):
    import pandas as pd

    from strava_etl_public_spark.operators.layout import assign_global_ids

    # 2 partitions x 4 bins/partition → bins must share partitions;
    # heavy duplicate order values stress boundary assignment
    pdf = pd.DataFrame({"k": [i % 37 for i in range(2000)], "id": range(2000)})
    df = spark.createDataFrame(pdf)
    out = assign_global_ids(df, ["k", "id"], num_partitions=2).toPandas()
    assert sorted(out.row_id) == list(range(1, 2001))
    ordered = out.sort_values("row_id")[["k", "id"]].values.tolist()
    assert ordered == sorted(ordered)
    # two runs agree exactly (frozen-boundary determinism)
    out2 = assign_global_ids(df, ["k", "id"], num_partitions=2).toPandas()
    m1 = dict(zip(out.id, out.row_id))
    m2 = dict(zip(out2.id, out2.row_id))
    assert m1 == m2


def test_global_prefix_sum_matches_window_and_plan(spark):
    import pandas as pd

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from strava_etl_public_spark.operators.layout import global_prefix_sum

    pdf = pd.DataFrame({"k": [(i * 31) % 97 for i in range(1500)], "id": range(1500),
                        "v": [(i % 7) + 1 for i in range(1500)]})
    df = spark.createDataFrame(pdf)
    out = global_prefix_sum(df, ["k", "id"], "v", num_partitions=3)
    naive = df.withColumn(
        "prefix_sum",
        F.sum("v").over(
            Window.orderBy("k", "id").rowsBetween(Window.unboundedPreceding, 0)
        ) - F.col("v"),
    )
    got = out.toPandas().sort_values(["k", "id"]).reset_index(drop=True)
    want = naive.toPandas().sort_values(["k", "id"]).reset_index(drop=True)
    assert list(got.prefix_sum) == list(want.prefix_sum)
    assert "SinglePartition" in naive._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in out._jdf.queryExecution().executedPlan().toString()


def test_shard_manifest_budget_and_contiguity(spark):
    import pandas as pd

    from strava_etl_public_spark.operators.layout import shard_manifest

    pdf = pd.DataFrame({"id": range(200), "sz": [(i % 13) * 10 + 5 for i in range(200)]})
    df = spark.createDataFrame(pdf)
    out = shard_manifest(df, ["id"], "sz", budget=300).toPandas().sort_values("id")
    # shards are contiguous, non-decreasing in order
    assert list(out.shard_id) == sorted(out.shard_id)
    # each shard's exclusive start respects the budget rule: a row's
    # shard equals its exclusive prefix sum div budget
    csum = out.sz.cumsum() - out.sz
    assert list(out.shard_id) == list(csum // 300)
    # every shard except possibly the last carries >= budget - max_item
    totals = out.groupby("shard_id").sz.sum()
    assert (totals.iloc[:-1] >= 300 - out.sz.max()).all()


def test_manifest_skipping_prunes_and_is_exact(spark, tmp_path):
    import pandas as pd

    from pyspark.sql import functions as F

    from strava_etl_public_spark.operators.layout import (
        read_with_skipping,
        write_with_stats,
    )

    pdf = pd.DataFrame({"k": range(10000), "v": [i % 977 for i in range(10000)]})
    df = spark.createDataFrame(pdf)
    path = str(tmp_path / "tbl")
    # clustered layout: range-partition + sort on k → tight per-file ranges
    clustered = df.repartitionByRange(8, "k").sortWithinPartitions("k")
    manifest = write_with_stats(clustered, path, ["k"])
    assert len(manifest["files"]) >= 4

    out, read, total = read_with_skipping(spark, path, "k", 100, 900)
    assert read < total  # the prune actually skipped files
    got = sorted(out.toPandas().k)
    assert got == list(range(100, 901))

    # empty-range prune reads nothing
    out2, read2, _ = read_with_skipping(spark, path, "k", 50000, 60000)
    assert read2 == 0 and out2.count() == 0

    # unclustered layout prunes nothing (the documented caveat)
    path2 = str(tmp_path / "tbl2")
    write_with_stats(df.repartition(8), path2, ["k"])
    _, read3, total3 = read_with_skipping(spark, path2, "k", 100, 900)
    assert read3 == total3


def test_hive_layout_triggers_dynamic_partition_pruning(spark, sf_dir, tmp_path):
    from pyspark.sql import functions as F

    from strava_etl_public_spark.operators.layout import hive_partitioned_write

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    path = str(tmp_path / "ev_part")
    hive_partitioned_write(ev, path, ["event_type"])
    fact = spark.read.parquet(path)
    # dim whose FILTER decides which partitions matter — only known at
    # runtime, so static pruning can't help; DPP must kick in
    dim = (
        ev.select("event_type")
        .distinct()
        .withColumn("is_conv", F.col("event_type").isin("purchase", "signup"))
    )
    j = fact.join(dim.filter("is_conv"), "event_type").groupBy("event_type").count()
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:2000]
    got = {r["event_type"]: r["count"] for r in j.collect()}
    want = {
        r["event_type"]: r["count"]
        for r in ev.filter(F.col("event_type").isin("purchase", "signup"))
        .groupBy("event_type")
        .count()
        .collect()
    }
    assert got == want


def test_dataset_fingerprint_multiset_invariance(spark):
    import pandas as pd

    from pyspark.sql import functions as F
    from strava_etl_public_spark.operators.layout import dataset_fingerprint

    df = spark.createDataFrame(
        pd.DataFrame({"a": [1, 2, 2, None], "b": ["x", "y", "y", "z"]}).astype(
            {"a": "Int64"}
        )
    )
    base = dataset_fingerprint(df, ["a", "b"]).collect()[0]
    # partition/order invariance
    for v in (df.repartition(7), df.orderBy(F.desc("b"))):
        r = dataset_fingerprint(v, ["a", "b"]).collect()[0]
        assert (r["n_rows"], r["xor_hash"], r["sum_hash_mod"]) == (
            base["n_rows"], base["xor_hash"], base["sum_hash_mod"],
        )
    # any changed cell changes the digest
    df2 = spark.createDataFrame(
        pd.DataFrame({"a": [1, 2, 3, None], "b": ["x", "y", "y", "z"]}).astype(
            {"a": "Int64"}
        )
    )
    r2 = dataset_fingerprint(df2, ["a", "b"]).collect()[0]
    assert (r2["xor_hash"], r2["sum_hash_mod"]) != (base["xor_hash"], base["sum_hash_mod"])
    # xor alone would miss a row duplicated into a pair; sum catches it
    df3 = df.unionByName(df.limit(0))  # same
    dup = spark.createDataFrame(
        pd.DataFrame({"a": [1, 1, 2, 2], "b": ["x", "x", "y", "y"]}).astype(
            {"a": "Int64"}
        )
    )
    r3 = dataset_fingerprint(dup, ["a", "b"]).collect()[0]
    assert r3["xor_hash"] == 0  # pairs cancel
    assert r3["sum_hash_mod"] != 0


# ---------------------------------------------------------------------------
# Versioned snapshots: commit log + time travel + rollback (round 8)
# ---------------------------------------------------------------------------


def _commit_df(df, t):
    """Commit ``df`` as the next snapshot of the table at ``t`` through
    ``snapshot_commit_ref``: its files are the version's own, its
    fingerprint the record's digest."""
    from strava_etl_public_spark.operators.layout import dataset_fingerprint
    from strava_etl_public_spark.operators.table_log import snapshot_commit_ref

    digest = dataset_fingerprint(df).collect()[0].asDict()

    def populate(vdir: str) -> None:
        df.write.mode("overwrite").parquet(vdir)

    return snapshot_commit_ref(t, populate, digest=digest)


def test_snapshot_commit_read_rollback_history(spark, tmp_path):
    import pandas as pd

    from strava_etl_public_spark.operators.table_log import (
        snapshot_history,
        snapshot_read,
        snapshot_rollback,
        snapshot_version,
    )

    t = str(tmp_path / "tbl")
    v1 = _commit_df(
        spark.createDataFrame(pd.DataFrame({"k": [1, 2], "v": ["a", "b"]})), t
    )
    v2 = _commit_df(
        spark.createDataFrame(pd.DataFrame({"k": [1, 2, 3], "v": ["a", "B", "c"]})), t
    )
    assert (v1, v2) == (1, 2)
    assert snapshot_version(t) == 2
    # latest read = v2; time travel = v1 unchanged
    assert snapshot_read(spark, t).count() == 3
    old = snapshot_read(spark, t, 1).toPandas().sort_values("k")
    assert old["v"].tolist() == ["a", "b"]

    # rollback is an O(1) pointer move; history stays readable
    snapshot_rollback(t, 1)
    assert snapshot_version(t) == 1
    assert snapshot_read(spark, t).count() == 2
    assert snapshot_read(spark, t, 2).count() == 3  # still time-travelable

    # a commit AFTER rollback must NOT overwrite the published v2
    v3 = _commit_df(
        spark.createDataFrame(pd.DataFrame({"k": [9], "v": ["z"]})), t
    )
    assert v3 == 3
    assert snapshot_read(spark, t, 2).count() == 3  # v2 untouched
    hist = snapshot_history(spark, t).toPandas()
    assert hist["version"].tolist() == [1, 2, 3]
    assert hist["n_rows"].tolist() == [2, 3, 1]

    # reading a never-published version fails loudly
    import pytest

    with pytest.raises(ValueError, match="does not exist"):
        snapshot_read(spark, t, 7)


def test_snapshot_occ_and_vacuum(spark, tmp_path):
    """Commit-conflict detection (O_EXCL on the commit record) and
    retention: vacuum deletes only data older than keep_last, never
    the published version or anything newer, and history metadata
    survives (time travel into a vacuumed version raises loudly)."""
    import json
    import os

    import pandas as pd
    import pytest

    from strava_etl_public_spark.operators.table_log import (
        snapshot_history,
        snapshot_read,
        snapshot_rollback,
        snapshot_vacuum,
    )

    t = str(tmp_path / "tbl")
    for i in range(4):
        _commit_df(
            spark.createDataFrame(pd.DataFrame({"k": list(range(i + 1))})), t
        )

    # concurrency: a record published by another writer is (a) never
    # overwritten — allocation scans the commit LOG, so the next
    # commit skips past it — and (b) the O_EXCL guard refuses the
    # true mid-flight race (two writers that both allocated 5)
    os.makedirs(os.path.join(t, "_commits"), exist_ok=True)
    rogue = os.path.join(t, "_commits", "5.json")
    with open(rogue, "w") as f:
        json.dump({"version": 5, "n_rows": 99}, f)
    v6 = _commit_df(spark.createDataFrame(pd.DataFrame({"k": [0]})), t)
    assert v6 == 6  # skipped past the foreign commit
    assert json.load(open(rogue))["n_rows"] == 99  # untouched
    with pytest.raises(FileExistsError):
        open(rogue, "x")  # the loser of a same-version race
    # scrub the rogue version + v6 so the vacuum assertions below see
    # the original 4-commit table
    import shutil as _sh

    from strava_etl_public_spark.operators.table_log import dataset_dir as _dd

    _v6 = _dd(t, 6)  # resolve BEFORE the record goes (no-rename mode)
    os.remove(rogue)
    os.remove(os.path.join(t, "_commits", "6.json"))
    if _v6:
        _sh.rmtree(_v6, ignore_errors=True)
    from strava_etl_public_spark.operators.table_log import snapshot_version

    assert snapshot_version(t) == 6  # pointer moved by the v6 commit
    snapshot_rollback(t, 4)

    # vacuum keeps the last 2 (v3, v4); v1, v2 data gone, log intact
    removed = snapshot_vacuum(t, keep_last=2)
    assert removed == [1, 2]
    assert snapshot_read(spark, t, 3).count() == 3
    with pytest.raises(ValueError, match="does not exist"):
        snapshot_read(spark, t, 1)
    assert snapshot_history(spark, t).count() == 4  # metadata survives

    # after rollback to v3, vacuum must not delete v4 (>= current)
    snapshot_rollback(t, 3)
    assert snapshot_vacuum(t, keep_last=1) == []
    assert snapshot_read(spark, t, 4).count() == 4


def test_dpp_prunes_hive_partitions(spark, tmp_path):
    """Dynamic partition pruning must appear in the partitioned scan's
    PartitionFilters when the probe side's filter is only known at
    runtime (top-k by count) — the plan-shape half of the
    x_scan_dpp_prune driver gate."""
    import pandas as pd
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from strava_etl_public_spark.operators.layout import hive_partitioned_write

    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "k": list(range(3000)),
                "part": [f"p{i % 10}" for i in range(3000)],
            }
        )
    )
    path = str(tmp_path / "dpp")
    hive_partitioned_write(df, path, ["part"])
    fact = spark.read.parquet(path)
    dim = (
        df.groupBy("part")
        .count()
        .withColumn("rk", F.row_number().over(W.orderBy(F.desc("count"), F.asc("part"))))
        .filter(F.col("rk") <= 2)
        .select("part")
    )
    j = fact.join(dim, "part").groupBy("part").count()
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        j.explain("formatted")
    assert "dynamicpruning" in buf.getvalue().lower(), "DPP did not engage"
    rows = {r.part: r["count"] for r in j.collect()}
    assert rows == {"p0": 300, "p1": 300}


def test_bloom_manifest_skipping(spark, tmp_path):
    """Per-file bloom manifests must never false-negative (the
    containing file is always read), must prune on unsorted layouts
    where zone maps cannot, and must reject a column mismatch."""
    import pandas as pd
    import pytest
    from pyspark.sql import functions as F

    from strava_etl_public_spark.operators.layout import (
        read_with_bloom_skipping,
        write_with_bloom,
    )

    df = spark.createDataFrame(
        pd.DataFrame({"k": list(range(5000)), "v": [i % 97 for i in range(5000)]})
    )
    path = str(tmp_path / "bloom")
    # hash-distributed on v → every file spans k's whole domain
    write_with_bloom(df.repartition(8, "v"), path, "k", m=65536, k=5)

    for probe in (0, 1234, 4999):
        out, read, total = read_with_bloom_skipping(spark, path, "k", probe)
        rows = out.collect()
        assert len(rows) == 1 and rows[0]["k"] == probe  # no false negative
        assert read < total, f"no pruning for {probe} ({read}/{total})"

    # absent value: prunes everything or reads only false positives
    out, read, total = read_with_bloom_skipping(spark, path, "k", 10**9)
    assert out.count() == 0 and read <= total

    with pytest.raises(ValueError, match="covers"):
        read_with_bloom_skipping(spark, path, "wrong_col", 1)


def test_snapshot_commit_ref_crash_publishes_nothing(spark, tmp_path):
    """code-review r9: populate runs in a PRIVATE staging dir, and the
    version directory appears only via the winner's atomic rename — a
    populate that dies mid-write must leave no published version, no
    half-populated v-dir, and no staging litter; the next commit then
    succeeds cleanly."""
    import os

    import pytest

    from strava_etl_public_spark.operators.table_log import (
        snapshot_commit_ref,
        snapshot_read,
        snapshot_version,
    )

    t = str(tmp_path / "tbl")
    _commit_df(spark.range(1, 4).selectExpr("id AS k"), t)
    assert snapshot_version(t) == 1

    def boom(vdir: str) -> None:
        with open(os.path.join(vdir, "partial.bin"), "w") as f:
            f.write("half-written")
        raise RuntimeError("executor died mid-populate")

    with pytest.raises(RuntimeError, match="mid-populate"):
        snapshot_commit_ref(
            t, boom, digest={"n_rows": 0, "xor_hash": 0, "sum_hash_mod": 0}
        )
    # pointer untouched, no v2 directory, staging cleaned up
    assert snapshot_version(t) == 1
    assert not os.path.isdir(os.path.join(t, "v2"))
    # (no-rename mode: the aborted populate's staging is also gone —
    # covered by the _stage_ listdir check below)
    from tests.vdir_helper import stage_litter

    assert not stage_litter(t)
    assert snapshot_read(spark, t).count() == 3
    # the table is not wedged: a later good commit takes the next slot
    def ok(vdir: str) -> None:
        spark.range(10, 12).selectExpr("id AS k").write.parquet(
            vdir, mode="overwrite"
        )

    n = snapshot_commit_ref(
        t, ok, digest={"n_rows": 2, "xor_hash": 0, "sum_hash_mod": 0}
    )
    assert snapshot_version(t) == n
    assert snapshot_read(spark, t).count() == 2
