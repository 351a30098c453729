"""Row-level CDC changelog (`LakeTable.changes_between`): per-commit
change rows across append / COW rewrite / MoR delete / rewrite-only
commits, the fast-path scan bounds, and the schema-change guard."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from data_iceberg_sandbox_spark.tables.laketable import (
    IncrementalReadError,
    LakeTable,
)


def _mk(spark, scratch, name, n=20):
    t = LakeTable(spark, os.path.join(scratch, name))
    t.create(spark.range(0, n).withColumn("v", F.col("id") % 10))
    return t


def _keys(spark, ids):
    return spark.createDataFrame([(i,) for i in ids], "id: long")


def _changes(t, from_v, to_v=None):
    return {
        (r["id"], r["v"], r["_change_type"], r["_commit_version"])
        for r in t.changes_between(from_v, to_v).collect()
    }


def test_append_emits_inserts_only(spark, scratch):
    t = _mk(spark, scratch, "cdc_append")
    t.append(spark.range(20, 23).withColumn("v", F.lit(77)))
    assert _changes(t, 1) == {(i, 77, "insert", 2) for i in (20, 21, 22)}


def test_create_included_when_range_starts_at_zero(spark, scratch):
    t = _mk(spark, scratch, "cdc_create", n=3)
    ch = _changes(t, 0)
    assert ch == {(i, i % 10, "insert", 1) for i in range(3)}


def test_cow_delete_emits_only_deleted_rows(spark, scratch):
    t = _mk(spark, scratch, "cdc_cow")
    t.delete_where(F.col("id") < 3)
    # net diff: the rewritten-but-identical rows cancel out
    assert _changes(t, 1) == {(i, i % 10, "delete", 2) for i in range(3)}


def test_merge_update_emits_delete_insert_pair(spark, scratch):
    t = _mk(spark, scratch, "cdc_merge")
    src = spark.range(5, 7).withColumn("v", F.lit(42))
    t.merge(src, on=["id"])
    assert _changes(t, 1) == {
        (5, 5, "delete", 2),
        (6, 6, "delete", 2),
        (5, 42, "insert", 2),
        (6, 42, "insert", 2),
    }


def test_mor_delete_recovers_full_deleted_rows(spark, scratch):
    t = _mk(spark, scratch, "cdc_mor")
    t.delete_keys_mor(_keys(spark, [4, 9]))
    assert _changes(t, 1) == {
        (4, 4, "delete", 2),
        (9, 9, "delete", 2),
    }


def test_rewrite_only_commits_contribute_nothing(spark, scratch):
    t = _mk(spark, scratch, "cdc_rewrite")
    t.compact()
    t.rewrite_sorted(["id"])
    assert _changes(t, 1) == set()


def test_mor_delete_then_compact_reports_once(spark, scratch):
    t = _mk(spark, scratch, "cdc_mor_compact")
    t.delete_keys_mor(_keys(spark, [1]))
    t.compact()  # materializes the sidecar; content unchanged
    assert _changes(t, 1) == {(1, 1, "delete", 2)}


def test_rollback_diff(spark, scratch):
    t = _mk(spark, scratch, "cdc_rb", n=5)
    t.append(spark.range(5, 6).withColumn("v", F.lit(1)))
    t.rollback(1)
    # v3 (rollback) must report the v2 insert as deleted again
    assert _changes(t, 2) == {(5, 1, "delete", 3)}


def test_schema_change_in_range_raises(spark, scratch):
    t = _mk(spark, scratch, "cdc_schema")
    t.add_column("w", "int")
    with pytest.raises(IncrementalReadError, match="schema"):
        t.changes_between(1)
    # a range after the change is fine
    t.append(
        spark.range(20, 21)
        .withColumn("v", F.lit(0))
        .withColumn("w", F.lit(9))
    )
    got = t.changes_between(2).collect()
    assert [(r["id"], r["w"], r["_change_type"]) for r in got] == [
        (20, 9, "insert")
    ]


# commits that only add files, whatever their operation name
_ADD_ONLY = {
    "append": lambda t, df: t.append(df),
    "fast_forward": lambda t, df: (
        t.create_branch("b").branch_append("b", df).fast_forward("b")
    ),
    "wap_stage": lambda t, df: t.fast_forward(t.stage_append(df)),
}


def test_append_fast_path_scans_only_added_files(spark, scratch):
    """An add-only commit's changelog must be built from the added
    files alone — the base table's files must not appear in the scan."""
    for land, commit in _ADD_ONLY.items():
        t = _mk(spark, scratch, f"cdc_scanbound_{land}", n=10)
        commit(t, spark.range(10, 12).withColumn("v", F.lit(0)))
        assert _changes(t, 1) == {(10, 0, "insert", 2), (11, 0, "insert", 2)}, land
        prev = set(t.manifest(1).files)
        added = {os.path.basename(f) for f in t.manifest().files if f not in prev}
        # the plan's own file list: its string form truncates scan paths
        scanned = {os.path.basename(u) for u in t.changes_between(1).inputFiles()}
        assert scanned == added, f"{land} changelog scanned a pre-existing file"


def test_empty_range_returns_typed_empty_frame(spark, scratch):
    t = _mk(spark, scratch, "cdc_empty", n=3)
    df = t.changes_between(1, 1)
    assert df.count() == 0
    assert df.columns == ["id", "v", "_change_type", "_commit_version"]
