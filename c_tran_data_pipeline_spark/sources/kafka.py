"""S3/K1: Kafka source/sink wrappers (reference producer.py:84-93,
topic_consumer.py:215-235, ccloud_lib.py:135-146).

No broker ships in the test image, so these build the plans but are
exercised only for plan construction in tests; the streaming tests drive
the identical downstream operators through a file stream instead
(tests/test_streaming.py). Config parsing replaces ccloud_lib's
key=value reader (S5) — the one reference facility that is config, not
data; we read the same file format for drop-in compatibility."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_ccloud_config(path: str) -> dict[str, str]:
    """Parse `param=value` lines, skipping blank lines and '#' comments —
    same format as the reference's librdkafka config files
    (ccloud_lib.py:135-146)."""
    conf: dict[str, str] = {}
    with open(path) as f:
        for line in f:
            line = line.strip()
            if line and not line.startswith("#") and "=" in line:
                k, v = line.split("=", 1)
                conf[k.strip()] = v.strip()
    return conf


def kafka_stream(spark: SparkSession, brokers: str, topic: str, starting: str = "earliest") -> DataFrame:
    """S3: streaming Kafka source. One DataFrame regardless of topic
    partition count — per-partition ordering is preserved, global ordering
    (which the reference got from its 1-partition topics,
    ccloud_lib.py:163-167) is deliberately NOT relied upon: every
    downstream operator keys on trip_id/event keys, not arrival order."""
    return (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", brokers)
        .option("subscribe", topic)
        .option("startingOffsets", starting)
        .load()
    )


def to_kafka_sink(df: DataFrame, key_literal: str) -> DataFrame:
    """K1: value = JSON of all columns, constant key (the reference keys
    every crumb message 'reading' / stop message 'stop_event' —
    producer.py:81, stop_producer.py:99). Write with
    .write.format('kafka') (batch) or .writeStream (streaming); the sink
    handles batching/flush pacing (T6) internally."""
    return df.select(
        F.lit(key_literal).cast("binary").alias("key"),
        F.to_json(F.struct(*df.columns)).cast("binary").alias("value"),
    )
