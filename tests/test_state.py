"""Upsert / idempotent-append / incremental-ingest semantics
(SURVEY §2 A9/S2/S4, A1/A5/G1/S1).
"""

from __future__ import annotations

import pandas as pd

from strava_etl_public_spark.operators.incremental import (
    incremental_scan,
    watermark,
    watermark_for,
)
from strava_etl_public_spark.operators.upsert import (
    idempotent_append,
    upsert_last_writer_wins,
)


def test_upsert_last_writer_wins(spark):
    current = spark.createDataFrame(
        pd.DataFrame(
            {"username": ["a", "b"], "token": ["a0", "b0"], "updated_at": [1, 1]}
        )
    )
    updates = spark.createDataFrame(
        pd.DataFrame(
            {"username": ["b", "c"], "token": ["b1", "c1"], "updated_at": [2, 2]}
        )
    )
    out = (
        upsert_last_writer_wins(current, updates, "username", "updated_at")
        .toPandas()
        .set_index("username")["token"]
        .to_dict()
    )
    assert out == {"a": "a0", "b": "b1", "c": "c1"}


def test_upsert_equal_recency_prefers_update(spark):
    current = spark.createDataFrame(
        pd.DataFrame({"username": ["a"], "token": ["old"], "updated_at": [5]})
    )
    updates = spark.createDataFrame(
        pd.DataFrame({"username": ["a"], "token": ["new"], "updated_at": [5]})
    )
    out = upsert_last_writer_wins(current, updates, "username", "updated_at").toPandas()
    assert out["token"].tolist() == ["new"]


def test_upsert_no_current(spark):
    updates = spark.createDataFrame(
        pd.DataFrame({"username": ["a", "a"], "token": ["v1", "v2"], "updated_at": [1, 2]})
    )
    out = upsert_last_writer_wins(None, updates, "username", "updated_at").toPandas()
    assert out["token"].tolist() == ["v2"]


def test_idempotent_append(spark):
    existing = spark.createDataFrame(pd.DataFrame({"name_id": ["x_1"], "v": [0]}))
    new = spark.createDataFrame(
        pd.DataFrame({"name_id": ["x_1", "y_2", "y_2"], "v": [9, 1, 1]})
    )
    out = idempotent_append(new, existing, "name_id").toPandas()
    assert out["name_id"].tolist() == ["y_2"]  # in-batch dup dropped, existing skipped
    assert idempotent_append(new, None, "name_id").count() == 2


def test_watermark_and_scan(spark):
    sink = spark.createDataFrame(
        pd.DataFrame({"username": ["u1", "u1", "u2"], "epoch": [10, 20, 5]})
    )
    wm = watermark(sink, "username", "epoch").toPandas().set_index("username")
    assert wm.loc["u1", "watermark_epoch"] == 20
    assert watermark_for(sink, "username", "epoch", "u2") == 5
    assert watermark_for(sink, "username", "epoch", "missing") == 0  # NULL -> 0

    source = spark.createDataFrame(
        pd.DataFrame({"epoch": [5, 15, 25, 35], "v": list("abcd")})
    )
    got = incremental_scan(source, "epoch", after_epoch=10, per_page=2).toPandas()
    assert got["epoch"].tolist() == [35, 25]  # newest-first top-N after watermark


def test_upsert_in_source_tie_deterministic(spark):
    """Equal (key, order_col) within one source: winner is the row
    sorting greatest over the remaining columns — stable across runs."""
    for rows in ([("a", 5, "x"), ("a", 5, "z")], [("a", 5, "z"), ("a", 5, "x")]):
        updates = spark.createDataFrame(
            pd.DataFrame(rows, columns=["username", "updated_at", "payload"])
        ).repartition(4)
        out = upsert_last_writer_wins(None, updates, "username", "updated_at").toPandas()
        assert len(out) == 1 and out["payload"].iloc[0] == "z"


def test_scd2_history_collapses_runs_nullsafe(spark):
    """SCD2: consecutive duplicate states collapse into one interval;
    NULL→value and value→NULL are changes, NULL→NULL is not; intervals
    chain (valid_to = next valid_from) and only the last is open."""
    from strava_etl_public_spark.operators.upsert import scd2_history

    pdf = pd.DataFrame(
        {
            "k": [1] * 6 + [2] * 3,
            "t": [10, 20, 30, 40, 50, 60, 10, 20, 30],
            "tie": list(range(9)),
            "s": ["a", "a", None, None, "b", "b", None, None, "x"],
        }
    )
    out = (
        scd2_history(spark.createDataFrame(pdf), "k", "t", "s", tie_col="tie")
        .toPandas()
        .sort_values(["k", "valid_from"])
        .reset_index(drop=True)
    )
    rows = [
        (int(r.k), r.s, int(r.valid_from),
         None if pd.isna(r.valid_to) else int(r.valid_to), bool(r.is_current))
        for r in out.itertuples()
    ]
    assert rows == [
        (1, "a", 10, 30, False),
        (1, None, 30, 50, False),
        (1, "b", 50, None, True),
        (2, None, 10, 30, False),
        (2, "x", 30, None, True),
    ]

