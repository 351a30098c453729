"""Kafka streaming source (SURVEY §2.1 S10), jar-gated.

The reference's transport is a Kafka topic with registry-decoded Avro
values (src_kafka_credit_card_transactions.sql:1-12; producer
produce_transactions.py:32-47). In Spark that is a config swap on the
same pipeline: `readStream.format("kafka")` in; the values decode with
the pure-Python Confluent-frame codec (`sources/avro_codec.py`).

The default install ships neither spark-sql-kafka nor the spark-avro SQL
module (only Avro core jars), so `kafka_stream` raises a clear
ConnectorUnavailable naming the jar to add; the streaming pipelines
accept any source DataFrame, so swapping the staged file backlog for
`kafka_stream(...)` is the only change needed on a real cluster.
`fake_kafka_stream` is its jar-free twin with the same schema.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


class ConnectorUnavailable(RuntimeError):
    pass


_KAFKA_JARS = "org.apache.spark:spark-sql-kafka-0-10_2.13:<spark-version>"


def _has_class(spark: SparkSession, cls: str) -> bool:
    # Spark Connect sessions expose no _jvm: "cannot check" must not
    # read as "jar absent" (r12 review — the gate would refuse on
    # exactly the clusters it exists to serve). Report available and
    # let Spark raise its own clear error if the jar truly is missing.
    jvm = getattr(spark, "_jvm", None)
    if jvm is None:
        return True
    try:
        jvm.java.lang.Class.forName(cls)
        return True
    except Exception:
        return False


def kafka_available(spark: SparkSession) -> bool:
    return _has_class(
        spark, "org.apache.spark.sql.kafka010.KafkaSourceProvider"
    )


def avro_available(spark: SparkSession) -> bool:
    return _has_class(spark, "org.apache.spark.sql.avro.AvroDataToCatalyst")


def kafka_stream(
    spark: SparkSession,
    brokers: str,
    topic: str,
    starting_offsets: str = "earliest",  # W4 replay semantics
) -> DataFrame:
    """S10 streaming source (earliest-offset replay)."""
    if not kafka_available(spark):
        raise ConnectorUnavailable(
            f"spark-sql-kafka not on classpath; add {_KAFKA_JARS}"
        )
    return (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", brokers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .load()
    )


# Spark's Kafka source schema, verbatim (KafkaSourceProvider): every
# downstream consumer of kafka_stream() sees exactly these columns.
KAFKA_SOURCE_SCHEMA = (
    "key binary, value binary, topic string, partition int, offset long, "
    "timestamp timestamp, timestampType int"
)


def fake_kafka_stream(spark: SparkSession, staged_dir: str) -> DataFrame:
    """Jar-free harness twin of :func:`kafka_stream`: a file-backed
    ``readStream`` whose rows carry the EXACT Kafka source schema
    (``KAFKA_SOURCE_SCHEMA``) — binary key/value (Confluent-framed Avro
    in the tests), topic/partition/offset lineage columns, broker
    timestamp. Downstream code (registry decode, fraud MV chain, sinks)
    is schema-compatible with the real source by construction, so the
    CI smoke proves the full wiring end-to-end and a production cluster
    only swaps this call for ``kafka_stream(...)``. Offsets replay from
    the staged files in order — the `startingOffsets=earliest` (W4)
    semantics."""
    return spark.readStream.schema(KAFKA_SOURCE_SCHEMA).parquet(staged_dir)
