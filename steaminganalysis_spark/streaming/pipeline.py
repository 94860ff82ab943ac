"""The flagship order pipeline — the reference's dataflow
(StreamingAnalysisAppWithKafkaManageOffset.scala:41-79) as Structured Streaming:

Kafka/JSON source → ``from_json`` with a declared schema → typed
projection + cast → paid/placed classification → per-day delta
aggregate → idempotent KV sink.

Classification is total, so no input record can raise. A record whose
``time``, ``flag`` or parsed ``fee`` is null is rejected: it gets a
null ``day``. A payload that is not JSON parses to all nulls and is
rejected too. Rejected rows reach the sink as the delta's null-``day``
group, which counts them (streaming/sinks.py).

Every step is a declarative DataFrame transform shared verbatim between
batch and stream (stream-batch equivalence is the test strategy,
SURVEY.md §5.2). Where the reference hand-rolled physical behavior,
Catalyst supplies it: the fused parse→extract→classify map chain is
whole-stage-codegen'd, the reduceByKey combiner is partial
HashAggregate, and checkpointing subsumes both offset managers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from steaminganalysis_spark.schemas import ORDER_EVENT_SCHEMA

__all__ = [
    "parse_order_json",
    "classify_orders",
    "day_rollup_delta",
    "kafka_order_stream",
    "kafka_source_options",
    "kafka_sink_options",
    "starting_offsets_json",
]


def parse_order_json(raw: DataFrame, value_col: str = "value") -> DataFrame:
    """Kafka value bytes/string → typed order columns. The reference's
    fastjson parse + per-field extraction (StreamingAnalysisAppWithKafkaManageOffset.scala:52-56), as
    one ``from_json`` whose unused fields Catalyst prunes."""
    return raw.select(
        F.from_json(F.col(value_col).cast("string"), ORDER_EVENT_SCHEMA).alias("o")
    ).select("o.*")


def classify_orders(orders: DataFrame) -> DataFrame:
    """Typed projection + classification (StreamingAnalysisAppWithKafkaManageOffset.scala:54-64):
    day bucket from event time, paid flag, fee masked to paid orders.
    Fee is carried as integer cents so downstream accumulation is exact
    (the reference reads fee as a long, StreamingAnalysisAppWithKafkaManageOffset.scala:55).

    Rejection rule: the fee is read with ``try_cast`` to decimal(18,2),
    so a non-numeric or out-of-range fee becomes null instead of raising.
    A row whose ``time``, ``flag`` or parsed fee is null gets a null
    ``day``; valid rows keep the reference's rules unchanged."""
    paid = F.col("flag") == "1"
    fee = F.col("fee").try_cast("decimal(18,2)")
    return orders.select(
        # reference substring bucketing (line 58); null time → null day
        F.when(F.col("flag").isNotNull() & fee.isNotNull(), F.substring("time", 1, 10))
        .alias("day"),
        paid.cast("int").alias("success"),
        F.when(paid, (fee * 100).cast("long")).otherwise(0).alias("fee_cents"),
        F.col("orderId"),
    )


def day_rollup_delta(classified: DataFrame) -> DataFrame:
    """Per-day delta aggregate of one micro-batch of classified orders
    (StreamingAnalysisAppWithKafkaManageOffset.scala:67-69: reduceByKey
    over [1, success, successFee]). Rejected rows form the null-``day``
    group, whose ``total`` is the batch's rejected count."""
    return classified.groupBy("day").agg(
        F.count("*").alias("total"),
        F.sum("success").alias("success"),
        F.sum("fee_cents").alias("fee_cents"),
    )


def kafka_source_options(
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "earliest",
    fail_on_data_loss: bool = True,
) -> dict[str, str]:
    """The Kafka source option contract (reference A1/A2,
    StreamingAnalysisAppWithKafkaManageOffset.scala:28-45), as a pure
    dict so tests can pin the exact spelling without a broker:

    - ``kafka.bootstrap.servers`` — the ``kafka.``-prefixed passthrough
      key (a bare ``bootstrap.servers`` is silently ignored by the
      source — the typo this contract exists to catch);
    - ``subscribe`` — topic subscription (the reference's
      ConsumerStrategies.Subscribe); assign-at-offsets (A2) is the same
      option set with ``starting_offsets`` as the per-partition JSON
      from ``starting_offsets_json``;
    - ``startingOffsets`` — ``earliest`` mirrors the reference's
      ``auto.offset.reset=earliest`` for a fresh group; ignored on
      restart because the checkpoint owns progress (A11/A12);
    - ``failOnDataLoss`` — ``true`` matches the reference's
      fail-on-missing-offsets DStream behavior.

    ``enable.auto.commit=false`` / ``group.id`` have no translation:
    Structured Streaming never autocommits and manages its own group.
    """
    return {
        "kafka.bootstrap.servers": bootstrap_servers,
        "subscribe": topic,
        "startingOffsets": starting_offsets,
        "failOnDataLoss": "true" if fail_on_data_loss else "false",
    }


def kafka_sink_options(bootstrap_servers: str, topic: str) -> dict[str, str]:
    """Kafka producer-sink option contract (reference A15,
    KafkaProducerApp.scala:17-31): broker list + target topic. The
    payload contract — (key, value) string columns — is
    ``datagen.to_kafka_json``."""
    return {"kafka.bootstrap.servers": bootstrap_servers, "topic": topic}


def starting_offsets_json(topic: str, partition_offsets: dict[int, int]) -> str:
    """Per-partition starting offsets as the Kafka source's JSON format
    (assign-at-offsets, reference A2): partitions are STRING keys,
    offsets are numbers; -2 = earliest, -1 = latest."""
    import json

    return json.dumps({topic: {str(p): o for p, o in partition_offsets.items()}})


def build_kafka_reader(reader, options: dict[str, str]):
    """Apply the Kafka format + options to a DataStreamReader (or any
    recorder standing in for one — the broker-less contract test)."""
    r = reader.format("kafka")
    for k, v in options.items():
        r = r.option(k, v)
    return r


def kafka_order_stream(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "earliest",
) -> DataFrame:
    """Kafka direct stream (reference A1/A2, StreamingAnalysisAppWithKafkaManageOffset.scala:28-45):
    subscribe + earliest start + no autocommit — offset tracking is the
    checkpoint's job. Per-partition placement (PreferConsistent in the
    reference) is the Kafka source's default. Requires a broker; in this
    environment the file/rate/memory sources drive the same pipeline."""
    raw = build_kafka_reader(
        spark.readStream,
        kafka_source_options(bootstrap_servers, topic, starting_offsets),
    ).load()
    return classify_orders(parse_order_json(raw))

