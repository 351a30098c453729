"""Manifest-stats file skipping: pruned scans touch fewer files and
return exactly the filtered result."""

from __future__ import annotations

import os
from dataclasses import replace

import pytest
from pyspark.sql import functions as F

from data_iceberg_sandbox_spark.streaming.fraud_stream import (
    SCRATCH,
    run_fraud_alerts_stream,
)
from data_iceberg_sandbox_spark.tables.laketable import LakeTable, _file_may_match
from tests.conftest import SF_SMOKE

NAN = float("nan")


def _mk_range_table(spark, scratch, name):
    """8 files, id ranges disjoint per file (repartitionByRange)."""
    t = LakeTable(spark, os.path.join(scratch, name))
    df = spark.range(0, 8000).withColumn("v", F.col("id") % 7)
    t.create(df.repartitionByRange(8, "id"))
    return t


def test_stats_recorded_per_file(spark, scratch):
    t = _mk_range_table(spark, scratch, "fs1")
    man = t.manifest()
    assert len(man.files) == 8
    assert set(man.file_stats) == set(man.files)
    for stats in man.file_stats.values():
        assert "id" in stats and stats["id"][0] <= stats["id"][1]


def test_pruned_scan_skips_files_and_stays_correct(spark, scratch):
    t = _mk_range_table(spark, scratch, "fs2")
    prune = [("id", ">=", 7000)]
    assert t.files_scanned(prune) <= 2  # range-partitioned → 1-2 tail files
    got = t.read(prune=prune).filter(F.col("id") >= 7000)
    assert got.count() == 1000
    assert got.agg(F.min("id")).collect()[0][0] == 7000


def test_equality_prune(spark, scratch):
    t = _mk_range_table(spark, scratch, "fs3")
    prune = [("id", "=", 4242)]
    assert t.files_scanned(prune) == 1
    assert t.read(prune=prune).filter(F.col("id") == 4242).count() == 1


def test_prune_survives_append_and_compact(spark, scratch):
    t = _mk_range_table(spark, scratch, "fs4")
    t.append(
        spark.range(8000, 9000)
        .withColumn("v", F.col("id") % 7)
        .repartitionByRange(2, "id")
    )
    man = t.manifest()
    assert set(man.file_stats) == set(man.files)  # stats carried + extended
    assert t.files_scanned([("id", ">=", 8500)]) <= 2
    t.compact(target_file_size_bytes=1 << 30)
    man2 = t.manifest()
    assert set(man2.file_stats) == set(man2.files)
    assert t.read(prune=[("id", "<", 100)]).filter(F.col("id") < 100).count() == 100


def test_conservative_without_stats_on_strings(spark, scratch):
    t = LakeTable(spark, os.path.join(scratch, "fs5"))
    df = spark.range(100).withColumn(
        "name", F.concat(F.lit("user_"), F.lpad(F.col("id").cast("string"), 3, "0"))
    )
    t.create(df.repartitionByRange(4, "id"))
    n = t.files_scanned([("name", ">=", "user_090")])
    assert 1 <= n <= 4
    assert (
        t.read(prune=[("name", ">=", "user_090")])
        .filter(F.col("name") >= "user_090")
        .count()
        == 10
    )


def test_zorder_prunes_on_both_columns(spark, scratch):
    """rewrite_zorder tiles the (x, y) plane: single-column predicates
    prune on EITHER column and a corner predicate touches ~1 tile —
    where a 1-D sort only serves its leading column. Content preserved
    exactly."""
    t = LakeTable(spark, os.path.join(scratch, "fz1"))
    df = spark.range(0, 20000).select(
        (F.col("id") % 100).alias("x"),
        (F.col("id") / 100).cast("long").alias("y"),
        F.col("id").alias("payload"),
    )
    t.create(df.repartition(8))  # scattered: every file spans both ranges
    pa, pb = [("x", "<=", 5)], [("y", "<=", 5)]
    assert t.files_scanned(pa) == 8 and t.files_scanned(pb) == 8
    total = sum(
        os.path.getsize(os.path.join(t.root, f)) for f in t.manifest().files
    )
    t.rewrite_zorder(["x", "y"], target_file_size_bytes=max(1, total // 16))
    n_files = len(t.manifest().files)
    assert n_files >= 8
    # each single-column predicate prunes (a 1-D x-sort would leave the
    # y predicate scanning everything), the corner predicate hits ~1 tile
    assert t.files_scanned(pa) <= n_files // 2
    assert t.files_scanned(pb) <= n_files // 2
    assert t.files_scanned(pa + pb) <= max(1, n_files // 4)
    got = t.read(prune=pa + pb).filter((F.col("x") <= 5) & (F.col("y") <= 5))
    assert got.count() == 6 * 6  # id = y*100 + x: one row per (x, y) cell
    assert t.read().count() == 20000


# ---- footer stats ----------------------------------------------------------


def _reference_stats(t):
    """The per-commit Spark stats job the footer read replaced: a
    per-file ``groupBy(input_file_name()).agg(min, max)`` over the
    table's numeric and string columns, partition columns skipped."""
    man = t.manifest()
    cols = [
        f.name
        for f in t.read().schema.fields
        if f.name not in man.partition_by
        and f.dataType.typeName()
        in ("integer", "long", "short", "byte", "float", "double", "string")
    ]
    aggs = [g(c).alias(f"{g.__name__}_{c}") for c in cols for g in (F.min, F.max)]
    want = {f: {} for f in man.files}  # an empty file has no group
    for r in (
        t.read().groupBy(F.input_file_name().alias("_file")).agg(*aggs).collect()
    ):
        [rel] = [f for f in man.files if r["_file"].endswith(f)]
        want[rel] = {
            c: [r[f"min_{c}"], r[f"max_{c}"]]
            for c in cols
            if r[f"min_{c}"] is not None
        }
    return want


def _typed_frame(spark, n):
    """One column of every stat type; a non-ASCII and an empty string,
    a column of only -0.0 and 0.0, and a half-null column."""
    i = F.col("id")
    return spark.range(n).select(
        i,
        i.cast("int").alias("i"),
        (i - 500).cast("short").alias("s"),
        (i % 200 - 100).cast("byte").alias("b"),
        (i / 7).cast("float").alias("f"),
        (i / 3 - 50).alias("d"),
        F.when(i % 2 == 0, F.lit(-0.0)).otherwise(F.lit(0.0)).alias("zero"),
        F.when(i % 2 == 0, i * 1.5).alias("half"),
        F.element_at(
            F.array(F.lit("héllo"), F.lit(""), F.lit("日本"), F.lit("zz")),
            (i % 4 + 1).cast("int"),
        ).alias("str"),
        F.concat(F.lit("c"), (i % 3).cast("string")).alias("cat"),
    )


@pytest.mark.parametrize(
    "layout, partition_by",
    [("range", []), ("by_cat", ["cat"]), ("sparse", [])],
)
def test_footer_stats_equal_spark_min_max(spark, scratch, layout, partition_by):
    df = _typed_frame(spark, 5 if layout == "sparse" else 1000)
    df = df.repartition(8) if layout == "sparse" else df.repartitionByRange(4, "id")
    t = LakeTable(spark, os.path.join(scratch, f"footer_{layout}"))
    t.create(df, partition_by=partition_by)
    man = t.manifest()
    assert man.file_stats == _reference_stats(t)
    assert set(man.file_stats) == set(man.files)
    if partition_by:  # a partition column never appears in stats
        assert all("cat" not in s for s in man.file_stats.values())
    else:
        assert any("cat" in s for s in man.file_stats.values())


@pytest.mark.parametrize(
    "name, value",
    [
        ("big_string", "CASE WHEN id = 3 THEN repeat('x', 5000) ELSE 'a' END"),
        ("all_null", "CAST(NULL AS STRING)"),
        ("nan", "CASE WHEN id = 3 THEN double('NaN') ELSE 1.0D END"),
    ],
)
def test_footer_stats_unbounded_column_has_no_entry(spark, scratch, name, value):
    t = LakeTable(spark, os.path.join(scratch, f"unbounded_{name}"))
    t.create(spark.range(10).withColumn("c", F.expr(value)).coalesce(1))
    [stats] = t.manifest().file_stats.values()
    assert "c" not in stats and stats["id"] == [0, 9]


def test_empty_part_file_gets_empty_stats(spark, scratch):
    t = LakeTable(spark, os.path.join(scratch, "empty_part"))
    t.create(spark.range(0).withColumn("v", F.col("id") * 2))
    [empty] = t.manifest().files
    assert t.manifest().file_stats == {empty: {}}
    t.append(spark.range(10, 20).withColumn("v", F.col("id") * 2))
    man = t.manifest()
    assert man.file_stats[empty] == {} and set(man.file_stats) == set(man.files)
    got = t.read(prune=[("id", ">=", 15)]).filter(F.col("id") >= 15)
    assert sorted(r["id"] for r in got.collect()) == list(range(15, 20))


def test_added_column_bounded_only_in_new_files(spark, scratch):
    t = _mk_range_table(spark, scratch, "fs_addcol")
    old = set(t.manifest().files)
    t.add_column("w", "double")
    t.append(
        spark.range(8000, 9000)
        .select("id", (F.col("id") % 7).alias("v"), (F.col("id") / 2).alias("w"))
        .repartitionByRange(2, "id")
    )
    man = t.manifest()
    new = set(man.files) - old
    assert len(new) == 2
    assert all("w" not in man.file_stats[f] for f in old)
    assert sorted(man.file_stats[f]["w"][0] for f in new)[0] == 4000.0
    assert max(man.file_stats[f]["w"][1] for f in new) == 4499.5
    assert t.files_scanned([("w", ">=", 4400.0)]) == len(old) + 1


def test_stats_filled_in_for_a_manifest_written_without_them(spark, scratch):
    """A manifest committed with the removed ``stats.enabled=false``
    property holds no stats; the next commit reads every file's footer."""
    t = _mk_range_table(spark, scratch, "fs_nostats")
    man = t.manifest()
    with open(t._manifest_path(man.version), "w", encoding="utf-8") as fh:
        fh.write(
            replace(
                man, file_stats={}, properties={"stats.enabled": "false"}
            ).to_json()
        )
    assert t.files_scanned([("id", "=", 4242)]) == 8
    t.append(spark.range(8000, 8100).withColumn("v", F.col("id") % 7))
    man2 = t.manifest()
    assert set(man2.file_stats) == set(man2.files)
    assert t.files_scanned([("id", "=", 4242)]) == 1


def test_fraud_mv_files_all_carry_stats(spark):
    t = run_fraud_alerts_stream(
        spark, SF_SMOKE, os.path.join(SCRATCH, "fraud_stats"), threshold=100.0
    )
    for man in t.snapshots():
        assert set(man.file_stats) == set(man.files)
    assert any("user_id" in s for s in t.manifest().file_stats.values())


def test_commit_stats_schedule_no_spark_job(spark, scratch):
    t = _mk_range_table(spark, scratch, "fs_jobs")
    man = t.manifest()
    sc = spark.sparkContext
    sc.setJobGroup("footer_stats", "footer_stats")
    try:
        stats = t._collect_file_stats(man.files, man.schema_json, man.partition_by)
        jobs = sc.statusTracker().getJobIdsForGroup("footer_stats")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(jobs) == []
    assert stats == man.file_stats and len(stats) == 8


# ---- NaN bounds ------------------------------------------------------------


@pytest.fixture(scope="module")
def nan_table(spark, scratch):
    """x = id, except x = NaN at id 5: Spark orders NaN above every
    number, so NaN satisfies x >= 100."""
    t = LakeTable(spark, os.path.join(scratch, "fs_nan"))
    x = F.when(F.col("id") == 5, F.lit(NAN)).otherwise(F.col("id").cast("double"))
    t.create(spark.range(1000).withColumn("x", x).repartitionByRange(4, "id"))
    return t


@pytest.mark.parametrize(
    "op, value, cond, want", [(">=", 100.0, "x >= 100", 901), ("=", 7.0, "x = 7", 1)]
)
def test_nan_bound_never_prunes_a_matching_file(nan_table, op, value, cond, want):
    assert nan_table.read().filter(cond).count() == want
    assert nan_table.read(prune=[("x", op, value)]).filter(cond).count() == want


@pytest.mark.parametrize("op", [">", ">=", "=", "<", "<="])
def test_nan_bound_in_manifest_counts_as_no_stats(op):
    """Manifests written by the per-commit Spark stats job hold
    ``[lo, NaN]`` for a double column with a NaN."""
    assert _file_may_match({"x": [0.0, NAN]}, [("x", op, 100.0)])
    assert _file_may_match({"x": [NAN, NAN]}, [("x", op, -1.0)])
