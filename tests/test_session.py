"""Session factory settings that need no running session."""

from __future__ import annotations

import pytest

from kafka_stream_aggregator_spark.session import env_flag, local_resources


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


def test_local_resources_size_from_the_host_when_unset():
    assert local_resources(None, {}, 4, 15 << 30) == (4, "7680m")
    # a small host still gets a 1g heap
    assert local_resources(None, {}, 1, 1 << 30) == (1, "1024m")


def test_local_resources_argument_then_env_take_precedence():
    env = {"SPARK_GRAFT_CPUS": "6", "SPARK_DRIVER_MEM": "3g"}
    assert local_resources(None, env, 4, 15 << 30) == (6, "3g")
    assert local_resources(2, env, 4, 15 << 30) == (2, "3g")
    # empty values count as unset
    empty = {"SPARK_GRAFT_CPUS": "", "SPARK_DRIVER_MEM": ""}
    assert local_resources(None, empty, 4, 8 << 30) == (4, "4096m")
