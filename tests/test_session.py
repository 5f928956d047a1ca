"""Session configuration read from the environment."""

from __future__ import annotations

import pytest

from rust_near_indexer_spark import session
from rust_near_indexer_spark.session import RUNTIME_CONFS, _env_byte_size, tune

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


def test_runtime_confs_are_all_modifiable(spark):
    """tune() sets RUNTIME_CONFS on sessions it did not build, so each one
    must be settable at runtime; a static conf belongs in BUILD_CONFS."""
    assert [k for k in RUNTIME_CONFS if not spark.conf.isModifiable(k)] == []


def test_tune_sizes_shuffle_partitions_to_the_session(spark, monkeypatch):
    """Shuffle partitions follow the session's own parallelism, not an
    environment variable read at import."""
    monkeypatch.setattr(session, "_TUNED_APPS", set())
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    try:
        tune(spark)
        assert spark.conf.get(key) == str(spark.sparkContext.defaultParallelism)
    finally:
        spark.conf.set(key, before)
