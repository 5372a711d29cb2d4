"""``get_spark``'s ``$SPARK_GRAFT_EXTRA_CONF`` layer fails loudly, naming
the variable, before it touches the shared session builder."""

from __future__ import annotations

import pytest

from wroclaw_bike_stats_spark.session import get_spark


def test_malformed_extra_conf_names_the_variable(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_EXTRA_CONF", "{spark.sql.x: 1")
    with pytest.raises(ValueError, match="SPARK_GRAFT_EXTRA_CONF"):
        get_spark()


def test_non_object_extra_conf_names_the_variable(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_EXTRA_CONF", '["spark.sql.x", "1"]')
    with pytest.raises(ValueError, match="SPARK_GRAFT_EXTRA_CONF"):
        get_spark()
