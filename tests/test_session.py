"""The AQE policy knob is read when a session is pinned, not at import,
and only "true"/"false" (any case) reach Spark."""

from __future__ import annotations

import pytest

from strava_etl_public_spark import session

KEY = "spark.sql.adaptive.coalescePartitions.parallelismFirst"


class _FakeSpark:
    def __init__(self) -> None:
        self.conf = self
        self.values: dict[str, str] = {}

    def set(self, key: str, value: str) -> None:
        self.values[key] = value


def test_aqe_knob_set_after_import_takes_effect(monkeypatch):
    monkeypatch.delenv(session.AQE_PARALLELISM_FIRST_ENV, raising=False)
    assert session.ensure_harness_conf(_FakeSpark()).values[KEY] == "false"
    monkeypatch.setenv(session.AQE_PARALLELISM_FIRST_ENV, " True ")
    assert session.ensure_harness_conf(_FakeSpark()).values[KEY] == "true"


def test_aqe_knob_rejects_other_spellings(monkeypatch):
    monkeypatch.setenv(session.AQE_PARALLELISM_FIRST_ENV, "maybe")
    with pytest.raises(ValueError, match=session.AQE_PARALLELISM_FIRST_ENV):
        session.ensure_harness_conf(_FakeSpark())
    with pytest.raises(ValueError, match=session.AQE_PARALLELISM_FIRST_ENV):
        session.get_spark()
