"""Session factory contract: core-count resolution from the environment
and the master string a new session would use."""

from __future__ import annotations

import os

import pytest

from data_iceberg_sandbox_spark.session import (
    _cpus,
    build_session_conf,
    resolve_master,
)


@pytest.mark.parametrize(
    "raw, want", [("abc", None), ("", None), ("0", None), ("-3", None), ("7", 7)]
)
def test_cpus_env_fails_closed_to_cpu_count(monkeypatch, raw, want):
    """Malformed, empty or non-positive $SPARK_GRAFT_CPUS never reaches
    the master string or the shuffle width (``local[-3]`` would be an
    invalid master); it falls back to the machine's core count."""
    want = want or os.cpu_count() or 4
    monkeypatch.delenv("SPARK_GRAFT_MASTER", raising=False)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", raw)
    assert _cpus() == want
    assert resolve_master() == f"local[{want}]"
    conf = build_session_conf()
    assert conf["spark.sql.shuffle.partitions"] == str(want)
    assert conf["spark.default.parallelism"] == str(want)


def test_resolve_master_honors_cpus_env(monkeypatch):
    """The master string a new session would use must follow
    $SPARK_GRAFT_CPUS. Pure-function test — getOrCreate on a live
    session silently ignores a new master, so this is the only way the
    suite can assert the contract without forking."""
    monkeypatch.delenv("SPARK_GRAFT_MASTER", raising=False)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "7")
    assert resolve_master() == "local[7]"
    # explicit arg wins over env
    assert resolve_master("local[2]") == "local[2]"
    # explicit master env wins over the cpus-derived default
    monkeypatch.setenv("SPARK_GRAFT_MASTER", "local[3]")
    assert resolve_master() == "local[3]"
