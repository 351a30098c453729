"""The query registry (``__spark_entry__``): ``queries()`` hands out each
spec's builder, every call builds a fresh plan, and the only plan-level
cache is Spark's CacheManager — so a query run again after the scan
layer's between-run reset (``registry.reset_caches``: clearCache +
unpersist) executes the plan it declares, caches included. The runs
below go through bench.py's ``time_run``, which calls that reset and
leaves no job label behind. The scan layer's per-session table memo
keeps entries of sessions it cannot prove stopped, and flags
``pin_table`` overlays."""

from __future__ import annotations

import json
import os

import __spark_entry__ as entry_mod
from bench import time_run
from data_iceberg_sandbox_spark.sources.registry import (
    evict_stopped_sessions,
    is_pinned,
    load_table,
    pin_table,
    reset_caches,
)
from tests.conftest import SF_ORACLE, SF_SMOKE


def _cached_partitions(spark) -> int:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(info.numCachedPartitions() for info in infos)


def _run(spark, name: str, group: str) -> tuple[int, int]:
    """One bench timed run of ``name`` (cache-cold build + noop write);
    returns (jobs scheduled by build + execute, cached partitions)."""
    _, jobs, _ = time_run(spark, entry_mod.queries()[name], SF_ORACLE, group)
    return jobs, _cached_partitions(spark)


def test_queries_hand_out_each_builder():
    q = entry_mod.queries()
    for spec in entry_mod._all_specs():
        assert q[spec.name] is spec.fn, spec.name


def test_self_caching_query_registers_its_caches_after_reset(spark):
    """The reset drops every cache, and run 2 after it executes the
    declared plan: it registers its caches again and schedules the same
    jobs as run 1."""
    _run(spark, "dedup_incremental_lsh", "registry:lsh:warm")
    jobs1, cached1 = _run(spark, "dedup_incremental_lsh", "registry:lsh:1")
    reset_caches(spark, SF_ORACLE)
    assert _cached_partitions(spark) == 0
    jobs2, cached2 = _run(spark, "dedup_incremental_lsh", "registry:lsh:2")
    assert cached1 > 0
    assert cached2 > 0
    assert jobs2 == jobs1


def test_checkpointing_query_rebuilds_after_reset(spark):
    """A build that eagerly checkpoints runs that checkpoint again after
    the reset instead of serving the previous build's blocks."""
    _run(spark, "duplicate_clusters", "registry:clusters:warm")
    jobs1, _ = _run(spark, "duplicate_clusters", "registry:clusters:1")
    reset_caches(spark, SF_ORACLE)
    assert _cached_partitions(spark) == 0
    jobs2, _ = _run(spark, "duplicate_clusters", "registry:clusters:2")
    assert jobs1 > 1
    assert jobs2 == jobs1


def test_time_run_leaves_no_job_label(spark):
    """After a timed run, neither its job group nor its description is
    left on the thread: the next untimed jobs (a re-pin, the concurrent
    phase, the stream probe) must not be labelled as the last query."""
    sc = spark.sparkContext
    time_run(spark, lambda s, _: s.range(3), SF_ORACLE, "registry:labels")
    assert sc.getLocalProperty("spark.jobGroup.id") is None
    assert sc.getLocalProperty("spark.job.description") is None


def test_token_frame_shares_one_cache_entry_and_reregisters(spark):
    from pyspark import StorageLevel

    from data_iceberg_sandbox_spark.operators.tokenbase import token_frame

    reset_caches(spark, SF_ORACLE)
    jmap = spark.sparkContext._jsc.getPersistentRDDs
    a = token_frame(spark, SF_ORACLE)
    b = token_frame(spark, SF_ORACLE)
    a.count()
    b.count()
    assert jmap().size() == 1
    assert _cached_partitions(spark) > 0

    spark.catalog.clearCache()
    c = token_frame(spark, SF_ORACLE)
    assert c.storageLevel != StorageLevel.NONE
    c.count()
    assert _cached_partitions(spark) > 0
    reset_caches(spark, SF_ORACLE)


def test_driver_history_survives_malformed_correctness_file(monkeypatch, tmp_path):
    """A CORRECTNESS_r*.json holding a JSON list (truncated round /
    error payload) used to raise AttributeError out of queries() —
    the driver then lost the ENTIRE surface to one bad history file."""
    import __spark_entry__ as entry_mod

    good = tmp_path / "CORRECTNESS_r01.json"
    good.write_text(json.dumps({
        "q_ok": {"rows_match": True, "schema_match": True, "hash_match": True}
    }))
    bad = tmp_path / "CORRECTNESS_r02.json"
    bad.write_text(json.dumps(["not", "a", "dict"]))

    import glob as glob_mod

    monkeypatch.setattr(
        glob_mod, "glob", lambda pat: [str(good), str(bad)]
    )
    last_green, seen = entry_mod._driver_history()
    assert last_green == {"q_ok": 1}
    assert seen == {"q_ok"}


def test_evict_keeps_entries_with_unknowable_liveness():
    """A key whose .sparkContext RAISES (Spark Connect) must be kept;
    only a positive stopped signal (_jsc is None) evicts."""

    class _Ctx:
        def __init__(self, jsc):
            self._jsc = jsc

    class _Classic:
        def __init__(self, jsc):
            self.sparkContext = _Ctx(jsc)

    class _Connect:
        @property
        def sparkContext(self):
            raise RuntimeError("sparkContext is not supported in Connect")

    live, stopped, connect = _Classic(object()), _Classic(None), _Connect()
    memo = {live: {"a": 1}, stopped: {"b": 2}, connect: {"c": 3}}
    evict_stopped_sessions(memo)
    assert live in memo and connect in memo
    assert stopped not in memo


def test_is_pinned_flags_overlays(spark, tmp_path):
    """Consumers that fingerprint the on-disk file must be able to
    detect pin_table overlays."""
    load_table(spark, SF_SMOKE, "region")
    assert not is_pinned(spark, SF_SMOKE, "region")
    sf_fake = str(tmp_path / "pin_sf")
    os.makedirs(sf_fake, exist_ok=True)
    pin_table(spark, sf_fake, "events", spark.range(3).withColumnRenamed("id", "x"))
    assert is_pinned(spark, sf_fake, "events")
    assert not is_pinned(spark, sf_fake, "lineitem")
