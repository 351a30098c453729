"""Copy-on-write MERGE: the plan shape of the shared builder behind
``merge`` / ``merge_conditional`` and their edge semantics, each case
checked against explicit expected rows."""

from __future__ import annotations

import os
import re
from collections import Counter

import pytest
from pyspark.sql import functions as F

from data_iceberg_sandbox_spark.tables.laketable import LakeTable

SCHEMA = "k int, v string, n int"


def _table(spark, scratch, name, rows):
    t = LakeTable(spark, os.path.join(scratch, "merge_edge", name))
    t.create(spark.createDataFrame(rows, SCHEMA))
    return t


def _rows(t):
    return Counter(tuple(r) for r in t.read().collect())


def _src(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _capture_merged(monkeypatch):
    """Record the frame each data-file write receives."""
    seen = []
    orig = LakeTable._write_data_files

    def spy(self, df, *a, **kw):
        seen.append(df)
        return orig(self, df, *a, **kw)

    monkeypatch.setattr(LakeTable, "_write_data_files", spy)
    return seen


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


JOIN_RE = re.compile(r"\bJoin (\w+)")


@pytest.mark.parametrize("form", ["merge", "merge_conditional"])
def test_merge_plans_one_join_and_scans_source_once(spark, scratch, monkeypatch, form):
    t = LakeTable(spark, os.path.join(scratch, "merge_plan", form))
    t.create(spark.range(10).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v")))
    src = spark.range(5, 15).select(F.col("id").alias("k"), F.lit(-1).cast("long").alias("v"))
    seen = _capture_merged(monkeypatch)
    if form == "merge":
        t.merge(src, on=["k"], assume_unique_source=True)
    else:
        t.merge_conditional(src, on=["k"], delete_when=F.col("s.k") == 7)
    plan = _optimized(seen[-1])
    assert JOIN_RE.findall(plan) == ["FullOuter"], plan
    assert plan.count("Range (") == 1, plan  # the source relation
    want = {i: 2 * i for i in range(5)} | {i: -1 for i in range(5, 15) if form == "merge" or i != 7}
    assert {r.k: r.v for r in t.read().collect()} == want


@pytest.mark.parametrize("form", ["merge", "merge_conditional"])
@pytest.mark.parametrize("missing_from", ["source", "table"])
def test_merge_key_missing_raises_before_any_commit(spark, scratch, form, missing_from):
    """A key the source lacks is not null-filled into a NULL-key insert,
    and a key the table lacks fails on the driver: ValueError, no commit."""
    t = _table(spark, scratch, f"m_badkey_{form}_{missing_from}", [(1, "a", 1)])
    v0 = t.current_version()
    src = _src(spark, [(1, "x", 10)])
    src = src.drop("k") if missing_from == "source" else src.withColumnRenamed("k", "kk")
    key = "k" if missing_from == "source" else "kk"
    with pytest.raises(ValueError, match="key columns"):
        getattr(t, form)(src, on=[key])
    assert t.current_version() == v0
    assert _rows(t) == Counter([(1, "a", 1)])


def test_merge_without_inserts_is_a_left_outer_join(spark, scratch, monkeypatch):
    t = _table(spark, scratch, "plan_no_insert", [(1, "a", 1)])
    seen = _capture_merged(monkeypatch)
    t.merge(_src(spark, [(1, "x", 10), (2, "y", 20)]), on=["k"], insert_not_matched=False)
    plan = _optimized(seen[-1])
    assert JOIN_RE.findall(plan) == ["LeftOuter"], plan


# ---- merge ----------------------------------------------------------------


def test_merge_null_keys_never_match(spark, scratch):
    t = _table(spark, scratch, "m_null", [(1, "a", 1), (None, "tn", 2)])
    t.merge(_src(spark, [(1, "s1", 10), (None, "sn", 20), (3, "s3", 30)]), on=["k"])
    assert _rows(t) == Counter(
        [(1, "s1", 10), (None, "tn", 2), (None, "sn", 20), (3, "s3", 30)]
    )


def test_merge_empty_source_keeps_target(spark, scratch):
    t = _table(spark, scratch, "m_empty_src", [(1, "a", 1), (2, "b", 2)])
    t.merge(_src(spark, []), on=["k"])
    assert _rows(t) == Counter([(1, "a", 1), (2, "b", 2)])
    assert t.snapshots()[-1].operation == "merge"


def test_merge_into_empty_target_inserts_source(spark, scratch):
    t = _table(spark, scratch, "m_empty_tgt", [])
    t.merge(_src(spark, [(1, "x", 10), (None, "y", 20)]), on=["k"])
    assert _rows(t) == Counter([(1, "x", 10), (None, "y", 20)])


def test_merge_insert_not_matched_false_only_updates(spark, scratch):
    t = _table(spark, scratch, "m_no_insert", [(1, "a", 1), (2, "b", 2), (None, "tn", 0)])
    t.merge(
        _src(spark, [(2, "x", 20), (3, "y", 30), (None, "sn", 40)]),
        on=["k"],
        insert_not_matched=False,
    )
    assert _rows(t) == Counter([(1, "a", 1), (2, "x", 20), (None, "tn", 0)])


def test_merge_update_exclude_non_key_column(spark, scratch):
    t = _table(spark, scratch, "m_excl", [(1, "a", 1), (2, "b", 2)])
    t.merge(_src(spark, [(2, "x", 20), (3, "y", 30)]), on=["k"], update_exclude=("n",))
    # matched rows keep n; inserts take the source's n
    assert _rows(t) == Counter([(1, "a", 1), (2, "x", 2), (3, "y", 30)])


def test_merge_source_derived_from_target_read(spark, scratch):
    """The d_cdc self-merge shape: the source is a projection of the
    table's own read, so both join sides share lineage."""
    t = _table(spark, scratch, "m_self", [(1, "a", 1), (2, "b", 2), (3, "c", 3)])
    src = (
        t.read()
        .filter(F.col("k") >= 2)
        .withColumn("v", F.concat(F.lit("u_"), F.col("v")))
    )
    t.merge(src, on=["k"], assume_unique_source=True)
    assert _rows(t) == Counter([(1, "a", 1), (2, "u_b", 2), (3, "u_c", 3)])


# ---- merge_conditional ----------------------------------------------------


def test_merge_conditional_null_keys_never_match(spark, scratch):
    t = _table(spark, scratch, "mc_null", [(1, "a", 1), (None, "tn", 2)])
    t.merge_conditional(
        _src(spark, [(1, "s1", 10), (None, "sn", 20)]),
        on=["k"],
        delete_when=F.col("t.k").isNull(),  # can only fire on a matched pair
    )
    assert _rows(t) == Counter([(1, "s1", 10), (None, "tn", 2), (None, "sn", 20)])


def test_merge_conditional_empty_source_and_target(spark, scratch):
    t = _table(spark, scratch, "mc_empty_src", [(1, "a", 1)])
    t.merge_conditional(_src(spark, []), on=["k"], delete_when=F.lit(True))
    assert _rows(t) == Counter([(1, "a", 1)])
    e = _table(spark, scratch, "mc_empty_tgt", [])
    e.merge_conditional(
        _src(spark, [(1, "x", 10), (2, "y", 2)]),
        on=["k"],
        delete_when=F.lit(True),
        insert_when=F.col("n") > 5,
    )
    assert _rows(e) == Counter([(1, "x", 10)])


def test_merge_conditional_null_delete_condition_updates(spark, scratch):
    """A delete clause evaluating to NULL does not fire; the matched row
    falls through to the (unconditional) update."""
    t = _table(spark, scratch, "mc_null_del", [(1, "a", 1), (2, "b", 2), (3, "c", 3)])
    t.merge_conditional(
        _src(spark, [(1, "x", None), (2, "y", 9), (3, "z", 1)]),
        on=["k"],
        delete_when=F.col("s.n") > 5,
    )
    assert _rows(t) == Counter([(1, "x", None), (3, "z", 1)])


def test_merge_conditional_null_update_condition_keeps_target(spark, scratch):
    t = _table(spark, scratch, "mc_null_upd", [(1, "a", 1), (2, "b", 2)])
    t.merge_conditional(
        _src(spark, [(1, "x", None), (2, "y", 9)]),
        on=["k"],
        update_when=F.col("s.n") > 5,
    )
    assert _rows(t) == Counter([(1, "a", 1), (2, "y", 9)])


def test_merge_conditional_insert_when_plain_source_names(spark, scratch):
    t = _table(spark, scratch, "mc_ins", [(1, "a", 1)])
    t.merge_conditional(
        _src(spark, [(1, "x", 0), (2, "y", 20), (3, "z", 3), (4, "w", None)]),
        on=["k"],
        insert_when=(F.col("n") > 10) & (F.col("v") != "q"),
    )
    # the matched row updates regardless of insert_when; NULL → no insert
    assert _rows(t) == Counter([(1, "x", 0), (2, "y", 20)])


def test_merge_conditional_update_exclude_non_key_column(spark, scratch):
    t = _table(spark, scratch, "mc_excl", [(1, "a", 1), (2, "b", 2)])
    t.merge_conditional(
        _src(spark, [(1, "x", 10), (3, "y", 30)]), on=["k"], update_exclude=("v",)
    )
    assert _rows(t) == Counter([(1, "a", 10), (2, "b", 2), (3, "y", 30)])


def test_merge_conditional_source_derived_from_target_read(spark, scratch):
    t = _table(spark, scratch, "mc_self", [(1, "a", 1), (2, "b", 2), (3, "c", 3)])
    src = t.read().withColumn("n", F.col("n") * 10)
    t.merge_conditional(src, on=["k"], delete_when=F.col("t.n") == 2)
    assert _rows(t) == Counter([(1, "a", 10), (3, "c", 30)])
