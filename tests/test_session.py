"""Session configuration read from the environment."""

from __future__ import annotations

import pytest

from rust_near_indexer_spark.session import _env_byte_size

VAR = "SPARK_GRAFT_ADVISORY_PARTITION_BYTES"


@pytest.mark.parametrize("value", ["64m", "64MB", "67108864", " 1g ", "512k", "100b"])
def test_env_byte_size_accepts_spark_byte_strings(monkeypatch, value):
    monkeypatch.setenv(VAR, value)
    assert _env_byte_size(VAR, "64m") == value.strip()


def test_env_byte_size_default_when_unset(monkeypatch):
    monkeypatch.delenv(VAR, raising=False)
    assert _env_byte_size(VAR, "64m") == "64m"


@pytest.mark.parametrize("value", ["64 MB", "", "1.5g", "64mib", "-1", "m"])
def test_env_byte_size_rejects_malformed_values_naming_the_variable(monkeypatch, value):
    monkeypatch.setenv(VAR, value)
    with pytest.raises(ValueError, match=VAR):
        _env_byte_size(VAR, "64m")
