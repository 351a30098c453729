"""Streaming pipeline behaviors: genuine multi-micro-batch incremental
processing, emit-on-update convergence, backfill repair."""

from __future__ import annotations

import os
import re

import pytest
from pyspark.errors import StreamingQueryException
from pyspark.sql import functions as F

from data_iceberg_sandbox_spark.operators.fraud import fraud_alerts_oracle_sql
from data_iceberg_sandbox_spark.sources.registry import load_table, pin_table
from data_iceberg_sandbox_spark.streaming.fraud_stream import (
    SCRATCH,
    drain,
    epoch_guarded_write,
    events_stream,
    fresh_table,
    repair_null_enrichment,
    run_fraud_alerts_stream,
    stage_event_files,
)
from data_iceberg_sandbox_spark.tables.laketable import LakeTable
from tests.conftest import SF_ORACLE, SF_SMOKE
from tests.oracle_harness import compare, duckdb_conn


def test_append_stream_epoch_retry_is_idempotent(spark, scratch):
    """A micro-batch retried after a successful table commit (failure
    between commit and checkpoint write) must be skipped: the epoch
    marker commits atomically with the data."""
    t = LakeTable(spark, os.path.join(scratch, "append_epoch"))
    batch = spark.range(5).withColumn("v", F.col("id") * 2)

    epoch_guarded_write(t, batch, 0)
    epoch_guarded_write(t, batch, 1)
    epoch_guarded_write(t, batch, 1)  # retry of an already-committed epoch
    assert t.read().count() == 10  # not 15
    epoch_guarded_write(t, batch, 2)
    assert t.read().count() == 15


def _listing(d):
    return {f: os.stat(os.path.join(d, f)).st_mtime_ns for f in os.listdir(d)}


@pytest.mark.parametrize("time_ordered", [False, True])
def test_stage_event_files_memo(spark, time_ordered):
    """An unchanged source is staged once: a second call rewrites no
    file and runs no Spark job. A different file count restages."""
    name = f"memo_{int(time_ordered)}"
    out = stage_event_files(spark, SF_SMOKE, name, 4, time_ordered)
    before = _listing(out)
    sc = spark.sparkContext
    sc.setJobGroup("stage_memo", "stage_memo")
    try:
        assert stage_event_files(spark, SF_SMOKE, name, 4, time_ordered) == out
        jobs = sc.statusTracker().getJobIdsForGroup("stage_memo")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(jobs) == []
    assert _listing(out) == before

    stage_event_files(spark, SF_SMOKE, name, 3, time_ordered)
    parts = [f for f in os.listdir(out) if f.endswith(".parquet")]
    assert len(parts) == 3
    with open(out + ".staged", encoding="utf-8") as mf:
        assert mf.read().startswith(f"3:{int(time_ordered)}:")


def test_stage_event_files_restages_pinned_overlay(spark, scratch):
    """A pin_table overlay serves data the on-disk file does not
    describe, so its staging writes no marker and restages per call."""
    sf = os.path.join(scratch, "memo_pinned")
    events = load_table(spark, SF_SMOKE, "events")
    events.write.parquet(os.path.join(sf, "events.parquet"))
    pin_table(spark, sf, "events", events.limit(50))

    out = stage_event_files(spark, sf, "memo_pin", n_files=2)
    first = _listing(out)
    assert stage_event_files(spark, sf, "memo_pin", n_files=2) == out
    assert not os.path.exists(out + ".staged")
    assert not {f for f in _listing(out) if f.startswith("part-")} & set(first)
    assert spark.read.parquet(out).count() == 50  # the overlay, not disk


_CKPT_KEY = "spark.sql.streaming.checkpointFileManagerClass"
_CKPT_PKG = "org.apache.spark.sql.execution.streaming.checkpointing."


@pytest.mark.parametrize(
    "session, partitions, manager",
    [
        ("6", 4, None),
        ("3", 8, _CKPT_PKG + "FileContextBasedCheckpointFileManager"),
        (None, 5, None),
    ],
    ids=["6-4", "3-8", "None-5"],
)
def test_drain_caps_and_restores_shuffle_partitions(
    spark, scratch, session, partitions, manager
):
    """drain runs the sink under min(partitions, session value) shuffle
    partitions and the FileSystem-based checkpoint manager, and hands
    the caller's values (or their unset state) back, also when the sink
    raises."""
    key = "spark.sql.shuffle.partitions"
    saved = spark.conf.get(key)
    want = str(partitions if session is None else min(partitions, int(session)))
    seen = []

    def sink(batch_df, _epoch):
        conf = batch_df.sparkSession.conf
        seen.append((conf.get(key), conf.get(_CKPT_KEY, None)))

    def failing_sink(batch_df, _epoch):
        raise RuntimeError("sink failed")

    def caller_state():
        return spark.conf.get(key, None), spark.conf.get(_CKPT_KEY, None)

    try:
        for k, v in ((key, session), (_CKPT_KEY, manager)):
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
        staged = stage_event_files(spark, SF_SMOKE, "drain_cap", n_files=2)
        frame = events_stream(spark, staged, files_per_trigger=1)
        t = fresh_table(spark, os.path.join(scratch, f"drain_cap_{session}"))
        assert drain(frame, "append", sink, t, partitions) is t
        assert seen == [(want, _CKPT_PKG + "FileSystemBasedCheckpointFileManager")] * 2
        assert caller_state() == (session, manager)

        t = fresh_table(spark, os.path.join(scratch, f"drain_fail_{session}"))
        with pytest.raises(StreamingQueryException, match="sink failed"):
            drain(frame, "append", failing_sink, t, partitions)
        assert caller_state() == (session, manager)
    finally:
        spark.conf.set(key, saved)
        spark.conf.unset(_CKPT_KEY)


def test_drain_resumes_from_its_checkpoint(spark, scratch):
    """A second drain over an unchanged staged dir commits nothing; one
    new staged file commits exactly one more batch; every staged row is
    in the table once. The checkpoint logs keep their .crc checksums."""
    events = load_table(spark, SF_SMOKE, "events")
    staged = os.path.join(scratch, "resume_staged")
    events.filter(F.col("event_id") % 3 != 2).repartition(2).write.parquet(staged)
    root = os.path.join(scratch, "resume_mv")
    fresh_table(spark, root)

    def run():
        t = LakeTable(spark, root)
        frame = events_stream(spark, staged, files_per_trigger=1)
        drain(frame, "append", lambda df, e: epoch_guarded_write(t, df, e), t)
        return len(t.snapshots())

    assert run() == 2
    assert run() == 2

    extra = os.path.join(scratch, "resume_extra")
    events.filter(F.col("event_id") % 3 == 2).coalesce(1).write.parquet(extra)
    (part,) = [f for f in os.listdir(extra) if f.endswith(".parquet")]
    os.replace(os.path.join(extra, part), os.path.join(staged, "part-extra.parquet"))
    assert run() == 3

    got = LakeTable(spark, root).read()
    assert got.count() == events.count()
    assert got.exceptAll(events).count() == 0 and events.exceptAll(got).count() == 0
    for log in ("offsets", "commits"):
        names = os.listdir(os.path.join(root + "_ckpt", log))
        batches = [f for f in names if f.isdigit()]
        assert sorted(batches) == ["0", "1", "2"]
        assert {f".{b}.crc" for b in batches} <= set(names), names


def test_multi_batch_incremental_merge(spark):
    root = os.path.join(SCRATCH, "test_incremental")
    t = run_fraud_alerts_stream(
        spark, SF_SMOKE, root, threshold=100.0, n_files=8, files_per_trigger=2
    )
    # >1 snapshot == the MV was maintained incrementally, not one-shot
    assert len(t.snapshots()) > 1
    ops = {m.operation for m in t.snapshots()}
    assert "merge" in ops or "create" in ops


def test_fraud_mv_merge_reads_each_micro_batch_once(spark, monkeypatch):
    """Each foreachBatch MERGE of the fraud MV plans one join over the
    micro-batch. The batch frame is a LogicalRDD over the not yet
    materialized stateful aggregate, so one scan of it is one state
    store pass per trigger. The sf0.01 MV still equals the oracle."""
    plans = []
    write = LakeTable._write_data_files

    def spy(self, df, *a, **kw):
        plans.append(df._jdf.queryExecution().optimizedPlan().toString())
        return write(self, df, *a, **kw)

    monkeypatch.setattr(LakeTable, "_write_data_files", spy)
    t = run_fraud_alerts_stream(
        spark, SF_ORACLE, os.path.join(SCRATCH, "fraud_one_join")
    )
    merges = [p for p in plans if "Join " in p]
    assert len(plans) == len(t.snapshots()) and len(merges) == len(plans) - 1
    assert merges, "the drain committed no MERGE"
    for p in merges:
        assert re.findall(r"\bJoin \w+", p) == ["Join FullOuter"], p
        assert p.count("LogicalRDD") == 1, p
    compare(t.read(), duckdb_conn(SF_ORACLE), fraud_alerts_oracle_sql(), "fraud_mv")


def test_emit_on_update_convergence(spark):
    """Same pipeline, different micro-batch slicing → identical MV."""
    a = run_fraud_alerts_stream(
        spark, SF_SMOKE, os.path.join(SCRATCH, "conv_a"), 100.0, 8, 2
    ).read()
    b = run_fraud_alerts_stream(
        spark, SF_SMOKE, os.path.join(SCRATCH, "conv_b"), 100.0, 4, 4
    ).read()
    assert a.count() == b.count()
    assert a.subtract(b).count() == 0 and b.subtract(a).count() == 0


def test_backfill_repairs_only_orphans(spark):
    customer = load_table(spark, SF_SMOKE, "customer")
    nation = load_table(spark, SF_SMOKE, "nation")
    t = run_fraud_alerts_stream(
        spark,
        SF_SMOKE,
        os.path.join(SCRATCH, "test_backfill"),
        100.0,
        enrich=True,
        customer_df=customer.filter(F.col("c_custkey") % 2 == 0),
        nation_df=nation,
    )
    before = t.read()
    n_orphans = before.filter(F.col("client_id").isNull()).count()
    assert n_orphans > 0  # the scenario is non-trivial at sf0.001
    repair_null_enrichment(t, customer, nation)
    after = t.read()
    assert after.filter(F.col("client_id").isNull()).count() == 0
    assert after.count() == before.count()


def test_streaming_ingest_into_branch_then_fast_forward(spark, scratch):
    """Streaming WAP composition: micro-batches land on a BRANCH
    (invisible to main readers while the stream runs), the branch is
    audited as a whole, then fast-forwarded — the Iceberg
    `spark.wap.branch` streaming-ingest pattern. Multi-batch is real
    (maxFilesPerTrigger=2 over an 8-file backlog); main must still be
    at the fork while every batch accumulates on the branch."""
    staged = stage_event_files(spark, SF_SMOKE, "branch_ingest")
    batch_events = spark.read.parquet(staged)
    seed = batch_events.limit(0)

    t = LakeTable(spark, os.path.join(scratch, "stream_branch"))
    t.create(seed)
    t.create_branch("stream")

    n_batches = [0]

    def to_branch(batch_df, epoch):
        t.branch_append("stream", batch_df)
        n_batches[0] += 1
        assert t.read().count() == 0  # main never sees in-flight batches

    q = (
        events_stream(spark, staged, files_per_trigger=2)
        .writeStream.foreachBatch(to_branch)
        .trigger(availableNow=True)
        .option(
            "checkpointLocation", os.path.join(scratch, "stream_branch_ckpt")
        )
        .start()
    )
    q.awaitTermination(120)
    assert n_batches[0] > 1, "backlog must replay as multiple micro-batches"

    total = batch_events.count()
    assert t.read_branch("stream").count() == total  # audit: no loss, no dup
    t.fast_forward("stream")
    assert t.read().count() == total
    # exactly-once content, not just counts: branch landing == batch read
    assert t.read().exceptAll(batch_events).count() == 0
    assert batch_events.exceptAll(t.read()).count() == 0


def test_stream_stream_join_bucket_boundaries(spark, scratch):
    """r13 bucketed state keys: pairs landing exactly ON the 5-minute
    range edge, straddling a bucket boundary, or sharing a second-
    truncated timestamp must all match the batch range self-join —
    the adversarial cases for the floor(ts/300) key + previous-bucket
    replication."""
    from datetime import datetime, timedelta

    from pyspark.sql import Row

    from data_iceberg_sandbox_spark.streaming.fraud_stream import (
        run_stream_stream_join,
    )

    base = datetime(2026, 1, 1, 0, 0, 0)

    def ev(eid, uid, sec, micro=0):
        return Row(
            event_id=eid,
            ts=base + timedelta(seconds=sec, microseconds=micro),
            user_id=uid,
            event_type="click",
            value=1.0,
            props="{}",
        )

    rows = [
        # exactly +300.000000s: included (<=); same bucket edge
        ev(1, 1, 0), ev(2, 1, 300),
        # +300s from a microsecond offset: 0.5 -> 300.5 (included),
        # buckets 0 -> 1 (previous-bucket replica must catch it)
        ev(3, 2, 0, 500000), ev(4, 2, 300, 500000),
        # one microsecond past the range: excluded
        ev(5, 3, 0), ev(6, 3, 300, 1),
        # equal timestamps: ts_b > ts_a strict, no pair either way
        ev(7, 4, 100), ev(8, 4, 100),
        # bucket straddle: 299s -> 301s (buckets 0 -> 1, gap 2s)
        ev(9, 5, 299), ev(10, 5, 301),
        # chain within one user across three buckets
        ev(11, 6, 250), ev(12, 6, 550), ev(13, 6, 850),
    ]
    sf_fake = os.path.join(scratch, "ssj_edges")
    os.makedirs(sf_fake, exist_ok=True)
    df = spark.createDataFrame(rows)
    pin_table(spark, sf_fake, "events", df)

    t = run_stream_stream_join(
        spark, sf_fake, os.path.join(scratch, "ssj_edges_tbl")
    )
    got = {(r["event_a"], r["event_b"]) for r in t.read().collect()}

    a = df.select(
        F.col("event_id").alias("ea"), "user_id", F.col("ts").alias("ta")
    )
    b = df.select(
        F.col("event_id").alias("eb"),
        F.col("user_id").alias("ub"),
        F.col("ts").alias("tb"),
    )
    want = {
        (r["ea"], r["eb"])
        for r in a.join(
            b,
            (F.col("user_id") == F.col("ub"))
            & (F.col("tb") > F.col("ta"))
            & (F.col("tb") <= F.col("ta") + F.expr("INTERVAL 5 MINUTES")),
        ).collect()
    }
    assert got == want
    assert (1, 2) in got and (3, 4) in got and (9, 10) in got
    assert (11, 12) in got and (12, 13) in got and (11, 13) not in got
    assert (5, 6) not in got and (7, 8) not in got
