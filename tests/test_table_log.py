"""TableLog — the one reader and publisher of the version log, on the
pyarrow DataSource faces.

Pins: a table listing a reader feature this build does not know is
refused by every face (batch source, CDF stream source, sink), not
only by ManagedTable; the sink's commit rebases over an interleaved
commit through ``TableLog._publish`` with an exact digest; the sink's
hashlib digest fold equals its DuckDB fold bit for bit; a TINYINT
column round-trips through the sink; and the log's own file names are
spelled in ``table_log.py`` only."""

import ast
import json
import os

import pyarrow as pa
import pytest

from strava_etl_public_spark.operators.layout import dataset_fingerprint
from strava_etl_public_spark.operators.table import ManagedTable
from strava_etl_public_spark.operators.table_log import TableLog
from strava_etl_public_spark.sources import table_sink

SCHEMA = "id long, bucket long, name string"


@pytest.fixture(scope="module")
def spark():
    from strava_etl_public_spark.session import get_spark
    from strava_etl_public_spark.sources.table_batch import register_table_source
    from strava_etl_public_spark.sources.table_cdf import register_cdf_stream

    s = get_spark()
    register_table_source(s)
    register_cdf_stream(s)
    table_sink.register_table_sink(s)
    return s


def _mk(spark, path, n=20):
    df = spark.createDataFrame(
        [(i, i % 4, f"u{i}") for i in range(1, n + 1)], SCHEMA
    ).repartition(2)
    return ManagedTable.create(df, path, key="id")


def test_feature_gate_on_every_source_face(spark, tmp_path):
    path = str(tmp_path / "t")
    _mk(spark, path)
    cfg_p = os.path.join(path, "_table.json")
    with open(cfg_p) as f:
        cfg = json.load(f)
    cfg["required_features"] = ["future-feature"]
    with open(cfg_p, "w") as f:
        json.dump(cfg, f)
    refusal = "requires reader features"
    with pytest.raises(ValueError, match=refusal):
        ManagedTable(spark, path)
    with pytest.raises(Exception, match=refusal):
        spark.read.format("managed_table").option("path", path).load().collect()
    with pytest.raises(Exception, match=refusal):
        spark.readStream.format("table_cdf").option("path", path).load()
    with pytest.raises(Exception, match=refusal):
        spark.createDataFrame([(99, 1, "x")], SCHEMA).write.format(
            "managed_table_sink"
        ).option("path", path).mode("append").save()


def test_sink_commit_rebases_over_interleaved_merge(spark, tmp_path, monkeypatch):
    """The sink's commit conflicts with a MERGE landed mid-publish,
    rebases onto it (the column map is unchanged) and publishes both
    effects with a digest equal to a re-fingerprint of the version.
    Run in-process: the engine runs the sink's commit in a Python
    worker, where a monkeypatch cannot reach."""
    path = str(tmp_path / "t")
    t = _mk(spark, path)
    t2 = ManagedTable(spark, path)
    schema = spark.createDataFrame([], SCHEMA).schema
    w = table_sink.TableAppendBatchWriter({"path": path}, schema)
    msg = w.write(
        iter(
            [
                pa.RecordBatch.from_pydict(
                    {
                        "id": pa.array([200], pa.int64()),
                        "bucket": pa.array([5], pa.int64()),
                        "name": pa.array(["s"]),
                    }
                )
            ]
        )
    )
    fired = {"done": False}
    orig = TableLog._inherit_sidecars

    def hooked(src_vdir, dst_vdir):
        if not fired["done"]:
            fired["done"] = True
            t2.merge(spark.createDataFrame([(1, 9, "m")], SCHEMA))
        return orig(src_vdir, dst_vdir)

    monkeypatch.setattr(TableLog, "_inherit_sidecars", staticmethod(hooked))
    v0 = t.version()
    w.commit([msg])
    v = t.version()
    assert fired["done"] and v == v0 + 2
    rec = t._record(v)
    assert rec["op"] == "append" and rec["parent"] == v0 + 1
    got = {r["id"]: r["name"] for r in t.read(version=v).collect()}
    assert got[1] == "m" and got[200] == "s"  # both effects
    live = dataset_fingerprint(t.read(version=v)).collect()[0].asDict()
    assert [rec[k] for k in ("n_rows", "xor_hash", "sum_hash_mod")] == [
        live[k] for k in ("n_rows", "xor_hash", "sum_hash_mod")
    ]
    # the staged file and the commit's link dir are consumed
    assert os.listdir(os.path.join(path, "_stream_stage")) == []


def test_sink_hashlib_fold_equals_duckdb_fold(monkeypatch):
    """A DuckDB failure degrades the sink's digest fold to the
    hashlib loop; both give the same (count, xor, sum) — including for
    a row with a NULL cell (rendered chr(30))."""
    import duckdb

    joined = pa.array(["1\x1f0\x1fu1", "2\x1f\x1e\x1fu2", "3\x1f1\x1f\x1e"])
    monkeypatch.setattr(table_sink, "_DUCKDB_FOLD_BROKEN", False)
    fast = table_sink._digest_fold(joined)

    def broken(*a, **k):
        raise RuntimeError("duckdb unavailable")

    monkeypatch.setattr(duckdb, "connect", broken)
    slow = table_sink._digest_fold(joined)
    assert table_sink._DUCKDB_FOLD_BROKEN
    assert fast[0] == 3 and slow == fast


#: the log's own files, spelled in table_log.py only (logstore.py
#: writes the _latest pointer it owns)
_LOG_FILES = {
    "_commits", "_ckpts", "_abandoned", "_hw", "_dv.json",
    "_vacuumed.json", "_latest", "_table.json",
}


def test_log_file_names_live_in_table_log_only():
    """No Spark: every module under operators/, sources/ and
    streaming/ except table_log.py is parsed, and none holds one of the
    log's file names as a string constant outside its docstrings."""
    import strava_etl_public_spark as pkg

    root = os.path.dirname(pkg.__file__)
    found = []
    for sub in ("operators", "sources", "streaming"):
        for fn in sorted(os.listdir(os.path.join(root, sub))):
            if not fn.endswith(".py") or fn == "table_log.py":
                continue
            with open(os.path.join(root, sub, fn)) as f:
                tree = ast.parse(f.read())
            docs = {
                id(n.body[0].value)
                for n in ast.walk(tree)
                if isinstance(
                    n,
                    (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef),
                )
                and n.body
                and isinstance(n.body[0], ast.Expr)
                and isinstance(n.body[0].value, ast.Constant)
            }
            allowed = {"_latest"} if fn == "logstore.py" else set()
            found += [
                f"{sub}/{fn}:{n.lineno} {n.value!r}"
                for n in ast.walk(tree)
                if isinstance(n, ast.Constant)
                and n.value in _LOG_FILES - allowed
                and id(n) not in docs
            ]
    assert not found, found


def test_sink_tinyint_column_round_trips(spark, tmp_path):
    """A TINYINT column is cast-stable, so the sink accepts it — and
    the rows it writes read back the same through ManagedTable.read
    and through the table_cdf stream."""
    path = str(tmp_path / "t")
    t = ManagedTable.create(
        spark.createDataFrame([(1, 7), (2, -3)], "id long, b tinyint"),
        path,
        key="id",
    )
    v0 = t.version()
    schema = spark.createDataFrame([], "id long, b tinyint").schema
    w = table_sink.TableAppendBatchWriter({"path": path}, schema)
    msg = w.write(
        iter(
            [
                pa.RecordBatch.from_pydict(
                    {
                        "id": pa.array([3, 4], pa.int64()),
                        "b": pa.array([127, None], pa.int8()),
                    }
                )
            ]
        )
    )
    w.commit([msg])
    assert t.version() == v0 + 1
    got = sorted(tuple(r) for r in t.read().collect())
    assert got == [(1, 7), (2, -3), (3, 127), (4, None)]
    rec = t._record(t.version())
    live = dataset_fingerprint(t.read()).collect()[0].asDict()
    assert [rec[k] for k in ("n_rows", "xor_hash", "sum_hash_mod")] == [
        live[k] for k in ("n_rows", "xor_hash", "sum_hash_mod")
    ]
    rows = []
    q = (
        spark.readStream.format("table_cdf")
        .option("path", path)
        .option("starting_version", v0)
        .load()
        .writeStream.foreachBatch(
            lambda df, _: rows.extend(tuple(r) for r in df.collect())
        )
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert sorted(rows, key=lambda r: r[0]) == [(3, 127, 1), (4, None, 1)]
