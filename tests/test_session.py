"""Session factory contract: core-count resolution from the environment,
the master string a new session would use, the Iceberg catalog wiring
when an iceberg-spark-runtime jar is present, and a codegen cache that
keeps a rotation of compiled plans resident."""

from __future__ import annotations

import os

import pytest

from bench import materialize
from data_iceberg_sandbox_spark.session import (
    CODEGEN_CACHE_ENTRIES,
    _cpus,
    build_session_conf,
    codegen_compiles,
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


def test_iceberg_jar_branch_selected_when_jar_present(tmp_path, monkeypatch):
    """The real-Iceberg session branch has no jar in this image, so
    assert it at the conf layer — a detected
    iceberg-spark-runtime jar must wire SparkCatalog + extensions, and
    its absence must leave the conf clean (laketable serves the
    lifecycle)."""
    import glob as glob_mod

    from data_iceberg_sandbox_spark import session as sess

    with_jar = sess.build_session_conf(jar="/x/iceberg-spark-runtime-3.5_2.12.jar")
    assert (
        with_jar["spark.sql.catalog.lake"]
        == "org.apache.iceberg.spark.SparkCatalog"
    )
    assert "IcebergSparkSessionExtensions" in with_jar["spark.sql.extensions"]
    assert with_jar["spark.sql.catalog.lake.type"] == "hadoop"
    assert with_jar["spark.sql.catalog.lake.warehouse"]

    without = sess.build_session_conf(jar=None)
    assert not any(k.startswith("spark.sql.catalog.") for k in without)
    assert "spark.sql.extensions" not in without

    # detector: picks up an iceberg-spark-runtime*.jar on the pyspark
    # jars path (glob mocked — no jar ships in this image)
    fake = str(tmp_path / "iceberg-spark-runtime-3.5_2.12-1.6.0.jar")
    monkeypatch.setattr(
        glob_mod, "glob", lambda pat: [fake] if "iceberg-spark-runtime" in pat else []
    )
    assert sess.iceberg_runtime_jar() == fake
    monkeypatch.setattr(glob_mod, "glob", lambda pat: [])
    assert sess.iceberg_runtime_jar() is None


def test_codegen_cache_keeps_a_plan_rotation_compiled(spark):
    """A second rotation of freshly built plans compiles nothing: each
    plan inlines its own literals, so it makes its own classes, and 120
    plans make more classes than Spark's default cache (100 entries)
    holds. With that default every rotation recompiled them all."""
    assert build_session_conf()["spark.sql.codegen.cache.maxEntries"] == str(
        CODEGEN_CACHE_ENTRIES
    )
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        CODEGEN_CACHE_ENTRIES
    )

    def rotation() -> int:
        before = codegen_compiles(spark)
        for k in range(1, 121):
            materialize(spark.range(8).selectExpr(f"id * {k} + {k} AS v"))
        return codegen_compiles(spark) - before

    assert rotation() > 100
    assert rotation() == 0
