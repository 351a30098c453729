"""Structured Streaming re-expression of the reference streaming pipeline
(SURVEY §2.1 S10-S14, §2.6 W1-W5).

Reference chain (/root/reference/): Kafka Avro source
(src_kafka_credit_card_transactions.sql:1-12, earliest offsets) →
RisingWave MV `mv_fraud_alerts` = 1-minute TUMBLE + SUM + HAVING
(mv_fraud_alerts.sql:3-17) → MV `mv_fraud_alerts_client` = two-hop
LEFT JOIN enrichment against seed + Iceberg side input
(mv_fraud_alerts_client.sql:11-17) → append-only Iceberg/Kafka sinks
(sink_iceberg_fraud_alerts_client.sql, sink_kafka...sql).

Spark-first mapping:
- source: file stream over a staged multi-file copy of `events`
  (`maxFilesPerTrigger` → genuine multi-micro-batch incremental
  processing; Kafka is a config swap, gated on the connector jar);
- MV maintenance (W2, emit-on-update): `outputMode("update")` windowed
  aggregation + ``foreachBatch`` MERGE into a LakeTable keyed
  (user_id, window_start) — each micro-batch upserts its updated
  cumulative sums, exactly RisingWave's emit-on-update observable
  behavior. The HAVING filter applies per emission; once a group
  crosses the threshold it appears and later updates revise it.
- enrichment (W5/S11): each micro-batch's alerts go through the batch
  ``enrich_alerts``, whose nation fold re-reads the static side per
  micro-batch, so dim changes apply to *future* batches;
- retroactive backfill (streaming-usecase.md:278-291, the card_999
  scenario): RisingWave revises *past* join results when dim rows
  arrive. Stream-static joins cannot; `repair_null_enrichment` runs the
  documented periodic repair MERGE re-joining rows whose enrichment is
  NULL (P8 predicate) — divergence documented in SURVEY §7.
- watermark: the reference keeps window state forever (no watermark);
  update-mode without watermark matches that. At 100 TB/unbounded
  streams, compose ``.withWatermark("ts", …)`` on the events frame to
  bound state — a stated trade-off.

One definition per MV: what each MV computes is the frame-level view in
``operators/`` (``fraud.window_alerts``, ``fraud.enrich_alerts``,
``advanced.sliding_windows``, ``advanced.session_windows``), applied
here to ``events_stream`` exactly as the batch spec applies it to
``load_table``. This module holds only the stream plumbing: staging,
the drain and the sinks.

Scale notes: the windowed agg carries partial aggregation before the
(user_id, window) shuffle; state is one BIGINT sum per (user_id, window)
group (the fixed-point sum of ``window_alerts``); the MERGE per batch
is ONE full outer join of the MV table with the batch's updated groups.
The batch frame is a plan over the stateful aggregate that re-runs on
every read, so a single join is what keeps it to one state-store pass
per trigger.
"""

from __future__ import annotations

import functools
import os
import shutil
import time
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.advanced import session_windows, sliding_windows
from ..operators.fraud import FRAUD_THRESHOLD, enrich_alerts, window_alerts
from ..sources.registry import is_pinned, load_table
from ..tables.laketable import LakeTable

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
SCRATCH = os.path.join(_REPO_ROOT, ".scratch", "streaming")
_CKPT_MANAGER_KEY = "spark.sql.streaming.checkpointFileManagerClass"
_CKPT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


def fresh_table(spark: SparkSession, table_root: str) -> LakeTable:
    """Empty result table for a full drain: removes ``table_root`` and
    its ``_ckpt`` checkpoint dir, so the stream replays the backlog from
    the start into a table that does not exist yet."""
    for d in (table_root, table_root + "_ckpt"):
        if os.path.isdir(d):
            shutil.rmtree(d)
    return LakeTable(spark, table_root)


def drain(
    frame: DataFrame,
    mode: str,
    sink: Callable[[DataFrame, int], None],
    table: LakeTable,
    partitions: int = 8,
) -> LakeTable:
    """The one stream lifecycle: run ``frame`` in output ``mode`` through
    ``foreachBatch(sink)`` until the backlog is drained (trigger
    availableNow), checkpointing beside ``table``; returns ``table``.

    Shuffle partitions are capped at ``partitions`` for the drain and
    restored afterwards, even when the sink raises: a state-store stage
    writes ``shuffle.partitions`` state files per micro-batch, so an
    uncapped default-200 session turns a seconds-long drain into minutes
    of file churn. ``partitions`` caps the session value, it never pins
    it: a session sized smaller keeps its own value, so the cap changes
    nothing where shuffle partitions are already <= 8. Every runner,
    the IVF embedding ingest included, drains under the cap.

    The checkpoint (offsets, commits, source log, state) is written
    through Hadoop's FileSystem API for the drain, set and restored like
    the cap. Spark's default FileContext manager looks up the link
    status of every file it checks or renames, and without native
    Hadoop libraries each lookup spawns a ``readlink`` process. The
    checkpoint sits beside a LakeTable, which is local-only, so it is
    always on ``file:``, where both managers end in the same checked
    ``RawLocalFileSystem.rename`` and ``LocalFileSystem`` still writes
    and verifies ``.crc`` files. The stream clones the session at
    ``start()``, so the value holds for its whole run."""
    conf = frame.sparkSession.conf
    shuffle = "spark.sql.shuffle.partitions"
    old = {k: conf.get(k, None) for k in (shuffle, _CKPT_MANAGER_KEY)}  # None = unset
    cap = old[shuffle]
    conf.set(shuffle, str(min(partitions, int(cap)) if cap is not None else partitions))
    conf.set(_CKPT_MANAGER_KEY, _CKPT_MANAGER)
    try:
        (
            frame.writeStream.outputMode(mode)
            .foreachBatch(sink)
            .option("checkpointLocation", table.root + "_ckpt")
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
    finally:
        for k, v in old.items():
            if v is not None:
                conf.set(k, v)
            else:
                # restore "unset": leaving the drain's value would
                # silently change the caller's session for its lifetime
                conf.unset(k)
    return table


def create_then(
    result: LakeTable, write: Callable[[DataFrame], None]
) -> Callable[[DataFrame, int], None]:
    """foreachBatch sink that creates ``result`` from the first
    micro-batch and hands every later one to ``write`` (a keyed merge,
    ``upsert_keys_mor`` or ``overwrite`` of ``result``). The existence
    check reads the table's manifest pointer; it runs no Spark job."""

    def sink(batch_df: DataFrame, _epoch: int) -> None:
        if not result.exists():
            result.create(batch_df)
        else:
            write(batch_df)

    return sink


def epoch_guarded_write(table: LakeTable, df: DataFrame, epoch: int) -> None:
    """Exactly-once foreachBatch append: the epoch id commits atomically
    WITH the data (a table property on the same manifest), so a
    micro-batch retried after a successful commit — the failure window
    between table commit and checkpoint write — is detected
    (epoch <= last applied) and skipped instead of double-applied.
    ONE implementation for every appending streaming sink."""
    marker = {"streaming.last_epoch": str(epoch)}
    if not table.exists():
        table.create(df, properties=marker)
        return
    last = table.manifest().properties.get("streaming.last_epoch")
    if last is not None and epoch <= int(last):
        return  # already committed; this is a post-commit retry
    table.append(df, extra_properties=marker)


def stage_once(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    out: str,
    params: str,
    write: Callable[[str], None],
) -> str:
    """Stage a copy of source ``table`` at ``out`` by calling
    ``write(out)``, unless the copy already there was staged from the
    same source with the same ``params``; returns ``out``.

    A staged backlog is the analog of a Kafka topic that already HOLDS
    its data — re-producing it on every run is not part of the
    consumer's work (~15 s of a ~60 s sf10 drain). The ``<out>.staged``
    marker records ``params`` plus the source parquet's (size,
    mtime_ns); the (size, mtime) term — not a row count — is what
    protects against testdata regenerated at the same SF (same count,
    different content). The memo is OFF, and every call restages, when
    the source cannot be statted or the registry entry is a pin_table
    overlay: a pinned frame serves data the disk fingerprint does not
    describe, so a re-pin over an unchanged disk file would otherwise
    match a stale staging."""
    marker = out + ".staged"
    sig = None
    if not is_pinned(spark, sf_dir, table):
        try:
            st = os.stat(os.path.join(sf_dir, f"{table}.parquet"))
            sig = f"{params}:{st.st_size}:{st.st_mtime_ns}"
        except OSError:
            pass
    if sig is not None and os.path.isdir(out):
        try:
            with open(marker, encoding="utf-8") as mf:
                if mf.read() == sig:
                    return out
        except OSError:
            pass
    if os.path.exists(marker):
        os.remove(marker)
    if os.path.isdir(out):
        shutil.rmtree(out)
    write(out)
    if sig is not None:
        with open(marker, "w", encoding="utf-8") as mf:
            mf.write(sig)
    return out


def stage_event_files(
    spark: SparkSession, sf_dir: str, name: str, n_files: int = 8,
    time_ordered: bool = False,
) -> str:
    """Stage `events` as n parquet files so the file source yields real
    micro-batches (the self-contained analog of a Kafka topic's
    partitioned backlog, replayed from earliest — S10/W4).

    ``time_ordered=True`` stages contiguous event-time slices that the
    file source replays in slice order (files are committed one by one,
    strictly increasing mtime AND lexicographic path) — the
    near-ordered-arrival shape of a real log tail, which is what makes
    a BOUNDED watermark lossless for stateful consumers. The default
    (one shuffled write) replays in effectively random time order, the
    worst-case backlog."""
    # loaded on a memo hit too: load_table pins the session's UTC time
    # zone, which the drained tables' timestamps are read under
    events = load_table(spark, sf_dir, "events")

    def write(out: str) -> None:
        if not time_ordered:
            events.repartition(n_files).write.parquet(out)
            return
        os.makedirs(out, exist_ok=True)
        tmp = out + ".tmp"
        if os.path.isdir(tmp):  # debris of an interrupted prior staging run
            shutil.rmtree(tmp)
        events.repartitionByRange(n_files, F.col("ts")).write.parquet(tmp)
        # re-commit each range slice as one sequentially-named file so the
        # file source's (mtime, path) ordering equals event-time ordering
        parts = sorted(f for f in os.listdir(tmp) if f.endswith(".parquet"))
        now = time.time()
        for i, f in enumerate(parts):
            dst = os.path.join(out, f"{i:05d}.parquet")
            os.replace(os.path.join(tmp, f), dst)
            os.utime(dst, (now + i, now + i))  # strictly increasing mtime
        shutil.rmtree(tmp)

    out = os.path.join(
        SCRATCH, f"staged_{name}_{os.path.basename(os.path.normpath(sf_dir))}"
    )
    return stage_once(
        spark, sf_dir, "events", out, f"{n_files}:{int(time_ordered)}", write
    )


def events_stream(spark: SparkSession, staged_dir: str, files_per_trigger: int = 2):
    schema = spark.read.parquet(staged_dir).schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", files_per_trigger)
        .parquet(staged_dir)
    )


def run_fraud_alerts_stream(
    spark: SparkSession,
    sf_dir: str,
    table_root: str,
    threshold: float = FRAUD_THRESHOLD,
    n_files: int = 8,
    files_per_trigger: int = 2,
    enrich: bool = False,
    customer_df: DataFrame | None = None,
    nation_df: DataFrame | None = None,
) -> LakeTable:
    """Run the MV-maintenance pipeline to completion over the staged
    backlog; returns the result LakeTable (the 'materialized view').

    ``window_alerts`` in update mode + foreachBatch MERGE keyed
    (user_id, window_start): emit-on-update semantics (W2). With
    `enrich`, each batch's updated alerts go through ``enrich_alerts``
    (W5) before the upsert, mirroring mv_fraud_alerts_client.
    """
    # staging dir keyed by the result table so concurrent pipelines
    # (plain vs enriched, different callers) never clobber each other
    staged = stage_event_files(
        spark, sf_dir, os.path.basename(os.path.normpath(table_root)), n_files
    )
    result = fresh_table(spark, table_root)

    # the plain aggregate is unique-keyed by construction; the enriched
    # form joins a CALLER-SUPPLIED customer_df whose key uniqueness we
    # cannot assume — keep the cardinality check there
    upsert = create_then(
        result,
        functools.partial(
            result.merge, on=["user_id", "window_start"], assume_unique_source=not enrich
        ),
    )
    if enrich:
        customer = customer_df if customer_df is not None else load_table(spark, sf_dir, "customer")
        nation = nation_df if nation_df is not None else load_table(spark, sf_dir, "nation")

    def shape(alerts: DataFrame) -> DataFrame:
        return enrich_alerts(alerts, customer, nation) if enrich else alerts

    alerts = window_alerts(events_stream(spark, staged, files_per_trigger), threshold)
    drain(alerts, "update", lambda df, epoch: upsert(shape(df), epoch), result)
    if not result.exists():  # no alert crossed the threshold
        # the empty table must carry the SINK schema: with enrich=True
        # that is the 7-column enriched shape, not alerts' 4 columns —
        # otherwise repair_null_enrichment and the oracle comparison
        # crash on the missing enrichment columns. Analysis gives the
        # enriched schema; the only job is the nation fold's collect.
        result.create(shape(spark.createDataFrame([], alerts.schema)))
    return result


def run_append_stream(spark: SparkSession, sf_dir: str, table_root: str) -> LakeTable:
    """S14 stream→table continuous insert / S12 append-only sink: the raw
    stream appended exactly once to a lakehouse table via foreachBatch."""
    staged = stage_event_files(spark, sf_dir, "append", n_files=8)
    result = fresh_table(spark, table_root)
    return drain(
        events_stream(spark, staged, files_per_trigger=2),
        "append",
        functools.partial(epoch_guarded_write, result),
        result,
    )


def run_mor_profile_stream(
    spark: SparkSession,
    sf_dir: str,
    table_root: str,
    files_per_trigger: int = 2,
) -> LakeTable:
    """Streaming keyed MV maintained by MERGE-ON-READ upserts: an
    update-mode per-user aggregate (count / exact decimal sum / max ts)
    where each micro-batch's changed rows land via
    ``LakeTable.upsert_keys_mor`` — one data-file set plus one
    equality-delete sidecar taken from those files, ZERO rewrites of
    prior MV files. The sink evaluates the micro-batch (a plan over the
    stateful aggregate) once, by the data write: it does not probe the
    batch for rows, since an empty batch commits nothing. This is
    the CDC-style sink shape for high-churn keyed MVs at 100 TB: commit
    cost tracks the batch's changed-key count, not the MV size, and the
    read side resolves sidecars with sequence-scoped anti-joins. The
    table is returned UNMATERIALIZED (sidecars intact), so the oracle
    comparison exercises the MoR read path end to end;
    `compact()` is the maintenance hook that folds it flat. Converges
    to the one-shot batch groupBy — the same incremental-MV contract as
    the COW-merge runners."""
    staged = stage_event_files(spark, sf_dir, "morprof", n_files=8)
    result = fresh_table(spark, table_root)

    prof = (
        events_stream(spark, staged, files_per_trigger)
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)"))
            .cast("double")
            .alias("total_value"),
            F.max("ts").alias("last_ts"),
        )
    )

    # an empty batch commits nothing
    upsert = create_then(result, lambda df: result.upsert_keys_mor(df, ["user_id"]))
    return drain(prof, "update", upsert, result)


def run_dedup_stream(spark: SparkSession, sf_dir: str, table_root: str) -> LakeTable:
    """Streaming deduplication: the backlog is staged TWICE (every event
    duplicated across different micro-batches), and
    ``dropDuplicates('event_id')`` with keyed state filters re-deliveries
    — the exactly-once ingest pattern for at-least-once transports. The
    drained table must equal the original events exactly.

    State note: unbounded key state here (matches the finite backlog);
    production pairs it with ``withWatermark`` so delivered keys age out.
    """
    ev = load_table(spark, sf_dir, "events")

    def write(out: str) -> None:
        ev.repartition(4).write.parquet(out)
        ev.repartition(3).write.mode("append").parquet(out)  # duplicate delivery

    staged = stage_once(
        spark,
        sf_dir,
        "events",
        os.path.join(
            SCRATCH, f"staged_dup_{os.path.basename(os.path.normpath(sf_dir))}"
        ),
        "4+3",
        write,
    )
    result = fresh_table(spark, table_root)
    # dropDuplicates replays deterministically on restart, so a
    # post-commit retry would double-append without the epoch guard
    return drain(
        events_stream(spark, staged, files_per_trigger=2).dropDuplicates(["event_id"]),
        "append",
        functools.partial(epoch_guarded_write, result),
        result,
    )


def run_session_window_stream(
    spark: SparkSession, sf_dir: str, table_root: str
) -> LakeTable:
    """Streaming session-window MV: ``advanced.session_windows``
    maintained incrementally over the staged backlog.

    Session windows MERGE as late events bridge gaps, so the session's
    own key (start) is unstable — a keyed MERGE can strand superseded
    rows. Complete-mode + foreachBatch overwrite is the correct
    maintenance loop: each micro-batch rewrites the MV from the full
    session state, and the final table provably equals the one-shot
    batch session_window aggregate (the driver oracle). State is
    O(open sessions); at unbounded scale add a watermark and demote to
    append-mode emission of *closed* sessions — trade-off documented."""
    staged = stage_event_files(spark, sf_dir, "sessmv", n_files=8)
    result = fresh_table(spark, table_root)

    agg = session_windows(events_stream(spark, staged, files_per_trigger=2))
    return drain(agg, "complete", create_then(result, result.overwrite), result)


def run_sliding_window_stream(
    spark: SparkSession, sf_dir: str, table_root: str
) -> LakeTable:
    """Incremental sliding-window MV (``advanced.sliding_windows``, 10 min
    / 5 min): update-mode + foreachBatch MERGE keyed (window_start,
    event_type) — same maintenance loop as the tumbling MV, overlapping
    windows included."""
    staged = stage_event_files(spark, sf_dir, "sliding", n_files=8)
    result = fresh_table(spark, table_root)

    agg = sliding_windows(events_stream(spark, staged, files_per_trigger=2))
    upsert = create_then(
        result,
        functools.partial(
            result.merge, on=["window_start", "event_type"], assume_unique_source=True
        ),
    )
    return drain(agg, "update", upsert, result)


def run_stream_stream_join(
    spark: SparkSession,
    sf_dir: str,
    table_root: str,
    minutes: int = 5,
    events_per_slice: int = 250_000,
) -> LakeTable:
    """Stream-stream inner join with event-time range condition: pairs of
    same-user events within N minutes, both sides watermarked — the
    canonical Spark stream-stream pattern (state bounded by watermark +
    the join's time constraint). Drained result must equal the batch
    range self-join.

    Watermark choice (reworked r11 — the 60-day out-wait-everything
    delay ground past 600 s at sf10 holding both 5M-row sides in state):
    the backlog is staged TIME-ORDERED (`stage_event_files
    time_ordered=True` — contiguous event-time slices replayed in slice
    order, a real log tail's near-ordered arrival), so every batch's
    minimum event time is ≥ the previous batch's maximum and NO input
    ever falls behind the watermark regardless of delay. A 10-minute
    delay (join range 5 min + margin) is then lossless by construction
    — drained-equals-batch stays hash-exact — while state holds minutes
    of data instead of the whole backlog. The reference keeps state
    forever (streaming-usecase.md — no watermarks); a production tail
    with genuinely disordered arrival would widen the delay to its
    observed disorder bound, trading state for completeness.

    Slice count scales with the backlog (~250k events per micro-batch,
    floor of 6 slices): with a handful of giant slices each batch spans
    a large share of the TIMELINE, and the watermark — which only
    advances between batches — lets state grow to the whole batch
    (5M rows/side at sf10; the r11 sweep measured that as a >600 s
    state-store grind). Bounded slices cap per-batch state at
    batch + 10-minute carryover regardless of SF; the time-ordered
    invariant (every slice's min ≥ previous slice's max) holds for any
    slice count, so drained-equals-batch is unaffected.

    Scale history (all sf10, same box): r11 unbucketed 250k/batch
    drained in 418 s; 1M/batch DNF — with state keyed on user ALONE,
    every insert probed the user's whole resident window, so fatter
    batches were quadratic. RocksDB A/B'd r12: DNF both ways (128
    store instances re-opened per batch swamp local mode). r12's
    backlog-scaled state parallelism + stats-off sink got 195 s.

    r13, the structural fix — coarse time-bucket state keys: state is
    keyed on (user, floor(ts / range)) with the right side replicated
    into its own and the PREVIOUS bucket (a pair's buckets differ by
    at most 1, see the join below), so a probe touches only
    the two buckets that can satisfy the range instead of the user's
    entire resident state. That removes the quadratic term entirely —
    and flips the r11 slice economics: fat batches are now CHEAPER
    (fewer per-batch state-store commit rounds at ~equal insert
    work), so files_per_trigger targets ~8 micro-batches per drain
    instead of 40. Measured drains at sf10: r12 code 195 s →
    bucketed @40 batches 153 s → bucketed @9 batches 52.7 s (raw
    parquet sink; sweep: fpt=4 63.6 s, fpt=5 52.7 s, fpt=6 62.0 s,
    48 state partitions 227 s — oversubscription, delay=6 min 71 s —
    no win, kept 10 min margin). Batch A/B of the same bucketization:
    the 502M-pair self-join fell 131.6 s → 7.5 s, confirming the
    candidate-blowup diagnosis."""
    n_events = load_table(spark, sf_dir, "events").count()
    n_files = max(6, -(-n_events // events_per_slice))
    # ~8 micro-batches per drain (see scale history above); the
    # 6-file floor keeps the small-SF bench stream genuinely
    # multi-batch at 2 batches (fpt=3), its measured sweet spot
    fpt = 3 if n_files == 6 else max(1, n_files // 8)
    staged = stage_event_files(
        spark, sf_dir, "ssj", n_files=n_files, time_ordered=True
    )
    result = fresh_table(spark, table_root)

    # Coarse time-bucket join key (r13 — the batch range-join
    # bucketization applied to the STATE key): with equality on
    # user alone, every left insert probes ALL stored right events of
    # that user still inside the watermark, and the range predicate
    # filters after the fact — per-user-per-window candidate blowup is
    # what made allUpdatesTimeMs ~60% of the 195 s sf10 drain. Keying
    # state by (user, floor(ts / range)) and replicating the right
    # side into its own and the PREVIOUS bucket (a pair's buckets can
    # differ by at most 1 — floor((x+w)/w) = floor(x/w)+1 on the
    # second-truncated timestamps, and ts_b ∈ (ts_a, ts_a+w] bounds
    # sec_b − sec_a to [0, w]) makes each probe touch only the ~two
    # buckets that can satisfy the range. Batch A/B of the same
    # rewrite: 131.6 s → 7.5 s for the 502M-pair self-join at sf10.
    # The range condition stays in the join, so watermark-based state
    # eviction is unchanged; the explode doubles right-side state rows
    # but each key's bucket is dense-time-local so totals still track
    # the watermark window.
    bucket_w = minutes * 60
    left = (
        events_stream(spark, staged, files_per_trigger=fpt)
        .select(
            F.col("event_id").alias("event_a"),
            F.col("user_id").alias("user_a"),
            F.col("ts").alias("ts_a"),
        )
        .withWatermark("ts_a", "10 minutes")
        .withColumn(
            "bucket_a", F.floor(F.unix_timestamp(F.col("ts_a")) / bucket_w)
        )
    )
    _bb = F.floor(F.unix_timestamp(F.col("ts_b")) / bucket_w)
    right = (
        events_stream(spark, staged, files_per_trigger=fpt)
        .select(
            F.col("event_id").alias("event_b"),
            F.col("user_id").alias("user_b"),
            F.col("ts").alias("ts_b"),
        )
        .withWatermark("ts_b", "10 minutes")
        .withColumn("bucket_b", F.explode(F.array(_bb, _bb - 1)))
    )
    pairs = left.join(
        right,
        (F.col("user_a") == F.col("user_b"))
        & (F.col("bucket_a") == F.col("bucket_b"))
        & (F.col("ts_b") > F.col("ts_a"))
        & (F.col("ts_b") <= F.col("ts_a") + F.expr(f"INTERVAL {minutes} MINUTES")),
        "inner",
    ).select("event_a", "event_b", F.col("user_a").alias("user_id"), "ts_a", "ts_b")

    # backlog-scaled state parallelism: ~300k events per state
    # partition, floor 8 (the bench-stream sweet spot), capped by the
    # session value inside drain
    parts = max(8, n_events // 300_000)
    drain(
        pairs,
        "append",
        functools.partial(epoch_guarded_write, result),
        result,
        partitions=parts,
    )
    if not result.exists():
        result.create(spark.createDataFrame([], pairs.schema))
    return result


def repair_null_enrichment(
    result: LakeTable, customer: DataFrame, nation: DataFrame
) -> LakeTable:
    """The periodic repair MERGE reproducing RisingWave's retroactive dim
    backfill (streaming-usecase.md:278-291): rows whose enrichment came
    up NULL (P8 predicate) are re-joined against the current dims and
    upserted by (user_id, window_start)."""
    cur = result.read()
    orphans = cur.filter(F.col("client_id").isNull()).select(
        "user_id", "window_start", "window_end", "total_amount"
    )
    if orphans.isEmpty():
        # nothing to repair: skip the O(MV size) copy-on-write MERGE
        # rewrite and the spurious snapshot most scheduled repair
        # cycles would otherwise commit (r12 review)
        return result
    result.merge(
        enrich_alerts(orphans, customer, nation),
        on=["user_id", "window_start"],
        assume_unique_source=True,
    )
    return result
