"""Session factory settings that need no running session."""

from __future__ import annotations

import pytest

from kafka_stream_aggregator_spark.session import env_flag


@pytest.mark.parametrize(
    "raw, on",
    [
        ("1", True),
        ("true", True),
        ("TRUE", True),
        (" yes ", True),
        ("on", True),
        ("0", False),
        ("false", False),
        ("False", False),
        ("", False),
        ("no", False),
    ],
)
def test_prefer_smj_flag_parsed_by_value(monkeypatch, raw, on):
    monkeypatch.setenv("SPARK_GRAFT_PREFER_SMJ", raw)
    assert env_flag("SPARK_GRAFT_PREFER_SMJ") is on


def test_prefer_smj_flag_unset_is_off(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_PREFER_SMJ", raising=False)
    assert env_flag("SPARK_GRAFT_PREFER_SMJ") is False
