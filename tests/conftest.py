from __future__ import annotations

import pytest


@pytest.fixture(scope="session")
def spark():
    from jsonschema_validator_spark.session import get_spark

    s = get_spark(app_name="jsv_tests", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture
def gated_calls(monkeypatch):
    """Keywords of every CheckExpr.gated call made during the test: one
    per check Column built. Clear it to count from a later point."""
    from jsonschema_validator_spark.functions.keywords import CheckExpr

    calls: list[str] = []
    gated = CheckExpr.gated

    def counting(self, acc):
        calls.append(self.keyword)
        return gated(self, acc)

    monkeypatch.setattr(CheckExpr, "gated", counting)
    return calls
