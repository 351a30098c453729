"""Merge-on-read equality deletes (Iceberg v2 analog): sidecar commits,
sequence-number scoping, time travel, rollback, GC, and the
appends-only incremental-read guard."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from data_iceberg_sandbox_spark.tables.laketable import (
    IncrementalReadError,
    LakeTable,
    MergeCardinalityError,
)


def _mk(spark, scratch, name, n=100):
    t = LakeTable(spark, os.path.join(scratch, name))
    t.create(spark.range(0, n).withColumn("v", F.col("id") % 10))
    return t


def _keys(spark, ids):
    return spark.createDataFrame([(i,) for i in ids], "id: long")


def test_mor_delete_is_metadata_only_and_filters_reads(spark, scratch):
    t = _mk(spark, scratch, "mor1")
    files = set(t.manifest().files)
    t.delete_keys_mor(_keys(spark, [3, 5, 7]))
    assert set(t.manifest().files) == files  # no data file rewritten
    assert len(t.manifest().delete_files) == 1
    got = {r["id"] for r in t.read().collect()}
    assert got == set(range(100)) - {3, 5, 7}


def test_mor_sequence_scoping_append_reinserts(spark, scratch):
    t = _mk(spark, scratch, "mor2")
    t.delete_keys_mor(_keys(spark, [1]))
    t.append(spark.range(1, 2).withColumn("v", F.lit(99)))
    rows = {(r["id"], r["v"]) for r in t.read().collect() if r["id"] == 1}
    assert rows == {(1, 99)}  # the re-inserted row survives
    # a LATER delete of the same key removes the re-inserted row too
    t.delete_keys_mor(_keys(spark, [1]))
    assert t.read().filter(F.col("id") == 1).count() == 0


def test_mor_time_travel_and_rollback(spark, scratch):
    t = _mk(spark, scratch, "mor3")
    v1 = t.current_version()
    t.delete_keys_mor(_keys(spark, [0, 2, 4]))
    v2 = t.current_version()
    assert t.read(version=v1).count() == 100  # pre-delete snapshot intact
    assert t.read(version=v2).count() == 97
    t.append(spark.range(100, 110).withColumn("v", F.lit(0)))
    t.rollback(v2)
    assert t.read().count() == 97  # rollback restores MoR state verbatim


def test_mor_compact_materializes_and_multi_column_keys(spark, scratch):
    t = _mk(spark, scratch, "mor4")
    t.delete_keys_mor(
        spark.createDataFrame([(6, 6), (7, 7)], "id: long, v: long")
    )
    # (6,6) matches row id=6 (v=6%10=6); (7,7) matches id=7 (v=7)
    assert t.read().count() == 98
    t.compact()
    assert not t.manifest().delete_files
    assert t.read().count() == 98


def test_mor_expire_gc_keeps_live_sidecars(spark, scratch):
    t = _mk(spark, scratch, "mor5")
    t.delete_keys_mor(_keys(spark, [1]))
    sidecar = next(iter(t.manifest().delete_files))
    for i in range(6):
        t.append(spark.range(200 + i, 201 + i).withColumn("v", F.lit(0)))
    t.expire_snapshots(retain_last=2)
    # the sidecar is still referenced by the retained manifests
    assert os.path.isdir(os.path.join(t.root, sidecar))
    assert t.read().filter(F.col("id") == 1).count() == 0
    # materialize, then expire everything that references the sidecar
    t.compact()
    for i in range(6):
        t.append(spark.range(300 + i, 301 + i).withColumn("v", F.lit(0)))
    t.expire_snapshots(retain_last=2)
    assert not os.path.isdir(os.path.join(t.root, sidecar))


def test_mor_incremental_read_rejects_delete_commits(spark, scratch):
    t = _mk(spark, scratch, "mor6")
    v1 = t.current_version()
    t.delete_keys_mor(_keys(spark, [1]))
    with pytest.raises(IncrementalReadError):
        t.read_incremental(v1)


def test_mor_rejects_unknown_key_columns_and_guards_drops(spark, scratch):
    t = _mk(spark, scratch, "mor7")
    v0 = t.current_version()
    with pytest.raises(ValueError):
        t.delete_keys_mor(
            spark.createDataFrame([(1,)], "nope: long")
        )
    src = spark.createDataFrame([(1, 1)], "id: long, v: long")
    with pytest.raises(ValueError):  # key not in the table
        t.upsert_keys_mor(src.withColumnRenamed("v", "nope"), ["nope"])
    with pytest.raises(ValueError):  # key not in the source
        t.upsert_keys_mor(src.select("v"), ["id"])
    assert t.current_version() == v0


def test_mor_upsert_one_commit_updates_and_inserts(spark, scratch):
    t = _mk(spark, scratch, "mor8")
    v0 = t.current_version()
    files = set(t.manifest().files)
    src = spark.createDataFrame(
        [(5, 555), (150, 150)], "id: long, v: long"
    )  # id=5 exists (update), id=150 is new (insert)
    t.upsert_keys_mor(src, ["id"])
    assert t.current_version() == v0 + 1  # ONE commit
    assert files <= set(t.manifest().files)  # no existing file rewritten
    got = {r["id"]: r["v"] for r in t.read().collect()}
    assert got[5] == 555 and got[150] == 150 and len(got) == 101
    # cardinality contract: duplicate source keys refuse loudly
    from data_iceberg_sandbox_spark.tables.laketable import (
        MergeCardinalityError,
    )

    with pytest.raises(MergeCardinalityError):
        t.upsert_keys_mor(
            spark.createDataFrame([(1, 1), (1, 2)], "id: long, v: long"),
            ["id"],
        )
    # a later MoR delete removes the upserted version too
    t.delete_keys_mor(_keys(spark, [5]))
    assert t.read().filter(F.col("id") == 5).count() == 0


def _data_dirs(t):
    return set(os.listdir(os.path.join(t.root, "data")))


def test_mor_upsert_evaluates_source_once(spark, scratch):
    """The source is read by the data write alone: the sidecar and the
    cardinality check come from the written files."""
    t = _mk(spark, scratch, "mor_once")
    acc = spark.sparkContext.accumulator(0)

    def counted(i):
        acc.add(1)
        return i

    udf = F.udf(counted, "long")
    src = spark.range(90, 120).select(udf("id").alias("id"), F.lit(7).cast("long").alias("v"))
    t.upsert_keys_mor(src, ["id"])
    assert acc.value == 30
    got = {r["id"]: r["v"] for r in t.read().collect()}
    assert len(got) == 120 and got[95] == 7 and got[89] == 9


def test_mor_upsert_cardinality_errors_leave_nothing(spark, scratch):
    t = _mk(spark, scratch, "mor_card", n=10)
    v0, dirs = t.current_version(), _data_dirs(t)
    for rows in ([(1, 1), (1, 2)], [(None, 1), (None, 2)]):
        with pytest.raises(MergeCardinalityError):
            t.upsert_keys_mor(spark.createDataFrame(rows, "id: long, v: long"), ["id"])
        assert t.current_version() == v0
        assert _data_dirs(t) == dirs
    t.upsert_keys_mor(spark.createDataFrame([(None, 5), (3, 33)], "id: long, v: long"), ["id"])
    # one NULL-keyed row is accepted: it is an insert that matches nothing
    got = {(r["id"], r["v"]) for r in t.read().collect() if r["id"] in (None, 3)}
    assert got == {(None, 5), (3, 33)}


@pytest.mark.parametrize("partitioned", [False, True])
def test_mor_upsert_empty_source_commits_nothing(spark, scratch, partitioned):
    t = LakeTable(spark, os.path.join(scratch, f"mor_empty_{partitioned}"))
    t.create(
        spark.range(10).withColumn("v", F.col("id") % 3),
        partition_by=["v"] if partitioned else None,
    )
    v0, dirs = t.current_version(), _data_dirs(t)
    t.upsert_keys_mor(spark.createDataFrame([], "id: long, v: long"), ["id"])
    assert t.current_version() == v0
    assert _data_dirs(t) == dirs


def test_mor_delete_empty_keys_commits_nothing(spark, scratch):
    """An empty key frame deletes nothing, so it leaves no snapshot and
    no sidecar: reads keep the plain scan and an incremental read over
    the range still serves the later append."""
    t = _mk(spark, scratch, "mor_del_empty", n=10)
    v0, dirs = t.current_version(), _data_dirs(t)
    t.delete_keys_mor(spark.createDataFrame([], "id: long"))
    assert t.current_version() == v0
    assert _data_dirs(t) == dirs
    assert not t.manifest().delete_files
    t.append(spark.range(10, 12).withColumn("v", F.lit(0).cast("long")))
    assert {r["id"] for r in t.read_incremental(v0).collect()} == {10, 11}


def test_mor_upsert_keyed_on_partition_column(spark, scratch):
    """Partition values live in the paths, not in the data files: the
    sidecar must still carry them."""
    t = LakeTable(spark, os.path.join(scratch, "mor_part_key"))
    t.create(
        spark.range(12).select(
            (F.col("id") % 4).alias("p"), F.col("id").alias("k"), F.lit(0).cast("long").alias("v")
        ),
        partition_by=["p"],
    )
    src = spark.createDataFrame([(1, 5, 50), (3, 100, 1)], "p: long, k: long, v: long")
    t.upsert_keys_mor(src, ["p", "k"])
    got = {(r["p"], r["k"]): r["v"] for r in t.read().collect()}
    want = {(i % 4, i): 0 for i in range(12)} | {(1, 5): 50, (3, 100): 1}
    assert got == want
