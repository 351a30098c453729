"""Watermark/append-mode streaming (W3) and timestamp-based time travel
(D6) — surface not covered by the oracle specs."""

from __future__ import annotations

import os
import time

from pyspark.sql import functions as F

from data_iceberg_sandbox_spark.operators.fraud import window_alerts
from data_iceberg_sandbox_spark.streaming.fraud_stream import (
    SCRATCH,
    events_stream,
    stage_event_files,
)
from data_iceberg_sandbox_spark.sources.registry import load_table
from data_iceberg_sandbox_spark.tables.laketable import LakeTable
from tests.conftest import SF_SMOKE


def test_append_mode_with_watermark_finalizes_windows(spark):
    """W3: append-only projection of the windowed aggregate — with a
    watermark, closed windows emit exactly once and match the batch
    answer for all windows older than the stream's max event time minus
    the watermark (here: every window, since the backlog is finite and
    processed fully)."""
    staged = stage_event_files(spark, SF_SMOKE, "wm", n_files=4)
    alerts = window_alerts(
        events_stream(spark, staged, files_per_trigger=4).withWatermark(
            "ts", "1 minute"
        ),
        threshold=100.0,
    )
    q = (
        alerts.writeStream.outputMode("append")
        .format("memory")
        .queryName("wm_out")
        .option(
            "checkpointLocation", os.path.join(SCRATCH, "wm_ckpt_" + str(os.getpid()))
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.sql("SELECT * FROM wm_out")
    batch = (
        load_table(spark, SF_SMOKE, "events")
        .groupBy(F.window("ts", "1 minute").alias("w"), "user_id")
        .agg(F.sum(F.col("value").cast("decimal(18,4)")).alias("t"))
        .filter(F.col("t") > 100.0)
    )
    n_batch = batch.count()
    # append mode withholds windows not yet past the watermark: the final
    # (max-event-time) window may be retained in state
    assert n_batch - 1 <= got.count() <= n_batch
    # and nothing is emitted twice
    assert (
        got.groupBy("user_id", "window_start").count().filter("count > 1").count()
        == 0
    )


def test_timestamp_as_of_time_travel(spark, scratch):
    t = LakeTable(spark, os.path.join(scratch, "tt"))
    t.create(spark.range(5))
    ts_between = int(time.time() * 1000)
    time.sleep(0.05)
    t.append(spark.range(5, 10))
    assert t.read(as_of_timestamp_ms=ts_between).count() == 5
    assert t.read().count() == 10
