"""Every ``scripts/scale.py`` entry runs at a small size and passes its
own checks, so a scale measurement cannot rot unnoticed."""

from __future__ import annotations

import importlib.util
import inspect
import os

import pytest

from strava_etl_public_spark.session import ensure_harness_conf

_spec = importlib.util.spec_from_file_location(
    "scale", os.path.join(os.path.dirname(__file__), "..", "scripts", "scale.py")
)
scale = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(scale)

# the smallest size at which each entry's checks are meaningful; an
# entry that reads a tier gets the fixture tier as its sf_dir
SIZES = {
    "pipeline": dict(n_activities=4, max_len=2000),
    "text": dict(n_docs=5000),
    "ann": dict(n_vecs=12_800, n_queries=64),
    "quality": dict(n_docs=2000),
    "cc": dict(n_chain_nodes=800),
    "rangejoin": dict(n_points=2000, n_intervals=1000),
    "maintenance": dict(),
    "dv": dict(n_events=2000),
    "update": dict(n_events=2000),
    "incremental": dict(),
    "lineage_pq": dict(n_versions=1000),
    "manifest": dict(max_exp=4),
    "sink": dict(n_events=2000, n_batches=2),
    "ann_tune": dict(),
}

# over the tier-1 budget even at these sizes: 20-55 s each on 4 cores
SLOW = {"ann_tune", "dv", "incremental"}


def test_every_entry_has_a_size():
    assert set(SIZES) == set(scale.ENTRIES)


@pytest.mark.parametrize(
    "name",
    [pytest.param(n, marks=pytest.mark.slow) if n in SLOW else n for n in sorted(SIZES)],
)
def test_entry_ok_at_smallest_size(spark, sf_dir, tmp_path, name):
    ensure_harness_conf(spark)
    entry, sizes = scale.ENTRIES[name], dict(SIZES[name])
    if "sf_dir" in inspect.signature(entry).parameters:
        sizes["sf_dir"] = sf_dir
    res = entry(spark, str(tmp_path), **sizes)
    assert res["ok"], res
