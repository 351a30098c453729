"""Streaming operators as oracle-checked queries.

Each runs a Structured Streaming pipeline to completion over the staged
multi-file backlog (trigger availableNow) and returns the final
materialized table — which must equal the equivalent *batch* SQL, the
strongest possible oracle for incremental-MV correctness: N micro-batch
merge rounds must converge to the one-shot answer.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from ..operators.advanced import SESSION_NATIVE_ORACLE, SLIDING_ORACLE
from ..operators.fraud import (
    FRAUD_THRESHOLD,
    fraud_alerts_oracle_sql,
    fraud_enriched_oracle_sql,
)
from ..operators.spec import QuerySpec
from ..sources.registry import load_table
from .fraud_stream import (
    SCRATCH,
    drain,
    epoch_guarded_write,
    events_stream,
    fresh_table,
    repair_null_enrichment,
    run_append_stream,
    run_dedup_stream,
    run_fraud_alerts_stream,
    run_mor_profile_stream,
    run_session_window_stream,
    run_sliding_window_stream,
    run_stream_stream_join,
    stage_once,
)


def _root(name: str, sf_dir: str) -> str:
    return os.path.join(
        SCRATCH, f"{name}_{os.path.basename(os.path.normpath(sf_dir))}"
    )


def stream_fraud_alerts(spark, sf_dir):
    """W1+W2: incremental windowed MV via update-mode + foreachBatch MERGE;
    converges to the batch tumble+sum+having result."""
    t = run_fraud_alerts_stream(
        spark, sf_dir, _root("mv_alerts", sf_dir), FRAUD_THRESHOLD
    )
    return t.read()


def stream_fraud_enriched_backfill(spark, sf_dir):
    """W2+W5 + retroactive dim backfill (card_999 scenario,
    streaming-usecase.md:266-291): stream enriched against a dim missing
    half its rows (orphans → NULL enrichment), then the repair MERGE
    re-joins orphans against the complete dim. Final state must equal the
    fully-enriched batch answer."""
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    late_dim = customer.filter(F.col("c_custkey") % 2 == 0)  # half arrives late
    t = run_fraud_alerts_stream(
        spark,
        sf_dir,
        _root("mv_enriched", sf_dir),
        FRAUD_THRESHOLD,
        enrich=True,
        customer_df=late_dim,
        nation_df=nation,
    )
    repair_null_enrichment(t, customer, nation)
    return t.read()


def stream_append_raw(spark, sf_dir):
    """S12/S14 append-only stream→table sink: lossless, exactly-once."""
    t = run_append_stream(spark, sf_dir, _root("raw_events", sf_dir))
    return t.read()


def avro_roundtrip_transactions(spark, sf_dir):
    """S8/S13 value-codec parity: deterministic transactions derived
    from events are serialized to Confluent-framed Avro binary and
    decoded back (sources/avro_codec — the jar-less from_avro/to_avro
    analog, reference transaction.avsc + produce_transactions.py:32-79).
    The oracle computes the same projection directly, so the round trip
    through the wire format is proven bit-exact, decimals included."""
    from ..sources.avro_codec import decode_transactions, encode_transactions

    ev = load_table(spark, sf_dir, "events")
    tx = ev.select(
        F.concat(
            F.lit("card_"), (F.col("user_id") % 100).cast("string")
        ).alias("card_id"),
        F.col("value").cast("decimal(28,4)").alias("amount"),
        "ts",
    )
    decoded = decode_transactions(encode_transactions(tx))
    # final double projection: DuckDB hands precision>18 decimals to
    # pandas as float anyway (repo convention: exact internally, DOUBLE
    # at the comparison boundary); decimal fidelity itself is
    # property-tested in tests/test_connectors.py
    return decoded.withColumn("amount", F.col("amount").cast("double"))


AVRO_ROUNDTRIP_ORACLE = """
SELECT concat('card_', CAST(user_id % 100 AS VARCHAR)) AS card_id,
       CAST(CAST(value AS DECIMAL(28,4)) AS DOUBLE) AS amount,
       ts,
       CAST(1 AS INT) AS schema_id
FROM events
"""


def stream_embedding_ivf_ingest(spark, sf_dir):
    """Streaming vector ingestion with online IVF bookkeeping — the
    missing streaming×vector cell of the surface matrix. The coarse
    quantizer fits ONCE on the corpus (`ivf_centroids`, identical
    parameters to `ivf_assign`'s defaults so the oracle reuses the
    standard seed→Lloyd→assign replay); the embedding log then replays
    as micro-batches, each batch rides the same Arrow assignment
    kernel as the batch ANN path, and the per-cell membership counts
    append as an exactly-once changelog the final read rolls up. This
    is the ingest half of every vector store: drained bookkeeping must
    equal the one-shot batch assignment — same convergence oracle as
    the windowed MVs.

    Scale: fit is the batch quantizer (bounded centroid set); per
    batch the kernel is one streamed scan (no shuffle) and the
    changelog append is ≤|cells| rows; nothing driver-side except the
    ≤2 MB centroid matrix each batch's plan build collects."""
    from ..functions.vector import as_double
    from ..operators.similarity import _assign_cells, ivf_centroids

    cents = ivf_centroids(spark, sf_dir).cache()
    staged = stage_once(
        spark,
        sf_dir,
        "embeddings",
        _root("staged_emb_ivf", sf_dir),
        "6",
        lambda out: load_table(spark, sf_dir, "embeddings")
        .repartition(6, F.col("vec_id"))
        .write.parquet(out),
    )
    mv = fresh_table(spark, _root("emb_ivf_mv", sf_dir))

    def ingest(batch_df, epoch):
        # a 2-file micro-batch arrives with 2 input partitions, which
        # caps the Arrow kernel at 2-way — measured 11-18 s/batch at
        # sf10 vs 1.2 s for the same rows at full width. One cheap
        # narrow-row shuffle fans the batch out to the session's
        # parallelism before the matmul (a Kafka source would arrive
        # pre-partitioned by topic partition).
        fanned = batch_df.repartition(
            batch_df.sparkSession.sparkContext.defaultParallelism
        )
        assigned = _assign_cells(
            fanned.select(
                "vec_id", as_double(F.col("embedding")).alias("emb")
            ),
            cents,
        )
        counts = assigned.groupBy("cent_id").agg(
            F.count(F.lit(1)).alias("n_vecs")
        )
        epoch_guarded_write(mv, counts, epoch)

    drain(events_stream(spark, staged, files_per_trigger=2), "append", ingest, mv)
    return (
        mv.read()
        .groupBy("cent_id")
        .agg(F.sum("n_vecs").cast("bigint").alias("n_vecs"))
    )


def _emb_ivf_ingest_oracle() -> str:
    from ..operators.similarity import _IVF_A1_SQL

    return f"""{_IVF_A1_SQL}
SELECT cent_id, count(*) AS n_vecs FROM a1 GROUP BY cent_id
"""


from .stateful import SPECS as STATEFUL_SPECS  # noqa: E402

SPECS: list[QuerySpec] = [
    *STATEFUL_SPECS,
    QuerySpec(
        "avro_roundtrip_transactions",
        avro_roundtrip_transactions,
        AVRO_ROUNDTRIP_ORACLE,
    ),
    QuerySpec("stream_fraud_alerts", stream_fraud_alerts, fraud_alerts_oracle_sql()),
    QuerySpec(
        "stream_fraud_enriched_backfill",
        stream_fraud_enriched_backfill,
        fraud_enriched_oracle_sql(),
    ),
    QuerySpec("stream_append_raw", stream_append_raw, "SELECT * FROM events"),
    QuerySpec(
        "stream_dedup_exactly_once",
        lambda spark, sf_dir: run_dedup_stream(
            spark, sf_dir, _root("dedup_stream", sf_dir)
        ).read(),
        "SELECT * FROM events",
    ),
    QuerySpec(
        "stream_stream_range_join",
        lambda spark, sf_dir: run_stream_stream_join(
            spark, sf_dir, _root("ssj_pairs", sf_dir)
        ).read(),
        """
        SELECT a.event_id AS event_a, b.event_id AS event_b,
               a.user_id, a.ts AS ts_a, b.ts AS ts_b
        FROM events a JOIN events b
          ON a.user_id = b.user_id AND b.ts > a.ts
         AND b.ts <= a.ts + INTERVAL 5 MINUTE
        """,
    ),
    QuerySpec(
        "stream_sliding_window_mv",
        lambda spark, sf_dir: run_sliding_window_stream(
            spark, sf_dir, _root("sliding_mv", sf_dir)
        ).read(),
        SLIDING_ORACLE,  # converges to the batch sliding-window aggregate
    ),
    QuerySpec(
        "stream_mor_upsert_mv",
        lambda spark, sf_dir: run_mor_profile_stream(
            spark, sf_dir, _root("mor_profile_mv", sf_dir)
        ).read(),
        """
        SELECT user_id, count(*) AS n_events,
               CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
                 AS total_value,
               max(ts) AS last_ts
        FROM events GROUP BY user_id
        """,
    ),
    QuerySpec(
        "stream_session_window_mv",
        lambda spark, sf_dir: run_session_window_stream(
            spark, sf_dir, _root("session_mv", sf_dir)
        ).read(),
        SESSION_NATIVE_ORACLE,  # converges to the batch session_window agg
    ),
    QuerySpec(
        "stream_embedding_ivf_ingest",
        stream_embedding_ivf_ingest,
        _emb_ivf_ingest_oracle(),
    ),
]
