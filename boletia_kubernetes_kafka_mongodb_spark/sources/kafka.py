"""Kafka source/sink configuration builders (SURVEY.md §2.1 S1/S3-S5).

Production wiring for the reference's topology: consumer groups become
checkpoint locations, the manual fetch-then-commit loop becomes micro-batch
+ checkpoint commit (``pcKafka/pcKafka.go:60-86``; commit-on-success
``inventario/main.go:56-66``), and `auto.offset.reset=latest` maps to
``startingOffsets``.

This container has no Kafka broker and no spark-sql-kafka package, so these
builders return *configured readers/writers* without starting them; tests
exercise the same pipeline logic through the file-backed emulation in
``cdc_stream.py`` (same DataFrame shape: topic/key/value/seq).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .catalog import TOPIC_EVENTOS, TOPIC_INVENTARIO, TOPIC_RESERVAS

DEFAULT_BOOTSTRAP = "kafka:9092"

# reference consumer groups (inventario/main.go:52, notificaciones/main.go:39)
GROUP_SUBSCRIPTIONS = {
    "inventario": [TOPIC_INVENTARIO, TOPIC_RESERVAS],
    "notificaciones": [TOPIC_RESERVAS],
}


def kafka_source(
    spark: SparkSession,
    group: str,
    bootstrap: str = DEFAULT_BOOTSTRAP,
    starting_offsets: str = "latest",
):
    """S5: multi-topic consumer-group subscribe as a structured stream reader.

    The reference's ``RecibeMensajes`` (``pcKafka/pcKafka.go:60-86``)
    fetch-without-autocommit semantics ≙ Spark checkpointed offsets: an
    offset is only committed once the micro-batch that contains it durably
    completes — the same at-least-once contract. A consumer group is a
    checkpoint location, so it is also the streaming query id that
    ``streaming.sinks.durable_handler`` tells a redelivered batch by.
    """
    topics = ",".join(GROUP_SUBSCRIPTIONS[group])
    return (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap)
        .option("subscribe", topics)
        .option("startingOffsets", starting_offsets)
        .option("failOnDataLoss", "false")
    )


def kafka_sink(df: DataFrame, topic: str, bootstrap: str = DEFAULT_BOOTSTRAP):
    """S3: producer — expects ``key``/``value`` string columns (the
    ``EnviaMensaje`` analogue, ``pcKafka/pcKafka.go:12-26``); partition
    balancing is the Kafka default partitioner."""
    return (
        df.writeStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap)
        .option("topic", topic)
    )


# ---------------------------------------------------------------------------
# wire-frame codec: the exact record shape Spark's Kafka source exposes
# ---------------------------------------------------------------------------

N_PARTITIONS = 8  # reference topics are single-partition; 8 shows the contract

KAFKA_SOURCE_COLUMNS = [
    "key", "value", "topic", "partition", "offset", "timestamp", "timestampType",
]


def to_kafka_frame(log: DataFrame) -> DataFrame:
    """Render the emulated message log (``topic``/``key``/``value`` strings +
    ``seq`` arrival order) into the EXACT record schema Spark's Kafka source
    produces — binary key/value, partition, per-partition monotone offset,
    timestamp, timestampType. This is the missing-socket boundary made
    concrete: everything after ``spark.readStream.format("kafka").load()``
    is this frame, so every downstream operator in the engine runs unchanged
    against a real broker.

    Partitioner: deterministic hash of the key mod N (Kafka's default is
    murmur2 — a different hash, but ANY fixed key-hash preserves the
    contract that matters: all messages of one key land in one partition in
    publish order). Offsets: ``row_number`` per (topic, partition) over
    ``seq`` — monotone within a partition, exactly Kafka's guarantee, and
    the per-partition window mirrors how a broker assigns them (parallel
    over partitions; no global ordering exists, as in Kafka).
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    part = F.pmod(F.xxhash64("key"), F.lit(N_PARTITIONS)).cast("int")
    w = Window.partitionBy("topic", "partition").orderBy("seq")
    return (
        log.select(
            F.encode("key", "UTF-8").alias("key"),
            F.encode("value", "UTF-8").alias("value"),
            "topic",
            part.alias("partition"),
            "seq",
        )
        .withColumn("offset", (F.row_number().over(w) - 1).cast("long"))
        .select(
            "key",
            "value",
            "topic",
            "partition",
            "offset",
            F.timestamp_millis(F.col("seq").cast("long")).alias("timestamp"),
            F.lit(0).alias("timestampType"),  # CreateTime, as brokers default
            "seq",
        )
    )


def from_kafka_frame(frame: DataFrame, keep_timestamp: bool = False) -> DataFrame:
    """Parse a Kafka-shaped frame back to the engine's message-log shape —
    the first select after ``.load()`` in production. Per-key order is
    recovered from (partition, offset): Kafka only orders within a
    partition, and the partitioner pinned each key to one, so
    partition*2⁴⁰+offset is a valid per-key ``seq``. The emulated frame
    carries the original ``seq`` for exact replay; a real broker frame
    doesn't, and the derived form kicks in.

    ``keep_timestamp`` additionally carries the broker timestamp through —
    the event-time column watermarked operators run on (a multi-partition
    consumer interleaves partitions arbitrarily, so downstream per-key
    order restoration needs event time: see
    ``streaming/admission.admission_ledger_stream_event_time``)."""
    from pyspark.sql import functions as F

    seq = (
        F.col("seq")
        if "seq" in frame.columns
        else (F.col("partition").cast("long") * (1 << 40) + F.col("offset"))
    )
    cols = [
        "topic",
        F.decode("key", "UTF-8").alias("key"),
        F.decode("value", "UTF-8").alias("value"),
        seq.alias("seq"),
    ]
    if keep_timestamp:
        cols.append("timestamp")
    return frame.select(*cols)
