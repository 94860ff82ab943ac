"""Runnable entrypoints — the analog of the reference's two main
classes (StreamingAnalysisAppWithKafkaManageOffset.main /
...WithZookeeperManageOffset.main) and its MockData dry-run.

Modes:

- ``demo``  (default): self-contained end-to-end run with no external
  services — generate order JSON (the reference producer's
  distributions), stream it through the rate source, run the
  parse→classify→day-rollup pipeline, apply per-batch deltas to the
  KV sink with the batch-id idempotence guard, and print the
  accumulated per-day hashes (what the reference left in Redis).
- ``kafka``: the production wiring — Kafka source at
  ``--bootstrap-servers``/``--topic``, same pipeline, same sink;
  offsets tracked by ``--checkpoint`` (replacing the reference's
  commitAsync AND ZooKeeper znode variants — there is deliberately no
  second entrypoint: the checkpoint subsumes both).
- ``mock``: print N generated order JSON lines (MockData.scala analog).

Run:  python -m steaminganalysis_spark.app [--mode demo|kafka|mock]
"""

from __future__ import annotations

import argparse
import tempfile
import time

from steaminganalysis_spark.session import get_spark
from steaminganalysis_spark.streaming.datagen import (
    order_events_batch,
    order_events_stream,
    to_kafka_json,
)
from steaminganalysis_spark.streaming.pipeline import (
    classify_orders,
    day_rollup_delta,
    kafka_order_stream,
    parse_order_json,
)
from steaminganalysis_spark.streaming.sinks import KVStore, day_rollup_sink


def run_demo(duration_s: float = 6.0, rows_per_second: int = 200) -> dict[str, dict[str, int]]:
    """End-to-end self-contained pipeline; returns the final KV state
    (also printed). Used by the smoke test with a short duration."""
    spark = get_spark(app_name="sa-spark-demo")
    store_name = f"demo-{int(time.time() * 1000)}"
    # producer → JSON text → (simulated) transport → parse: the stream
    # the pipeline sees is the JSON 'value' payload, exactly like Kafka
    orders = order_events_stream(spark, rows_per_second)
    payload = to_kafka_json(orders).select("value")
    classified = classify_orders(parse_order_json(payload))
    ckpt = tempfile.mkdtemp(prefix="sa_demo_ckpt_")
    q = day_rollup_sink(
        classified, ckpt, day_rollup_delta, store_name=store_name
    ).trigger(processingTime="1 second").start()
    try:
        # rate-source data never stops arriving, so processAllAvailable
        # would chase its tail — run for the requested wall time instead
        time.sleep(duration_s)
        # cold-start grace: the FIRST micro-batch pays JVM/codegen
        # warmup and can exceed a short duration_s on a busy box —
        # wait (bounded) for at least one committed batch so the demo
        # reports pipeline health, not scheduler warmup luck
        store = KVStore.instance(store_name)
        deadline = time.time() + 30.0
        while not store.keys() and time.time() < deadline:
            time.sleep(0.5)
    finally:
        q.stop()
    store = KVStore.instance(store_name)
    state = {k: store.hgetall(k) for k in store.keys()}
    for k in sorted(state):
        h = state[k]
        print(
            f"{k}: total={h.get('total', 0)} success={h.get('success', 0)} "
            f"fee_cents={h.get('fee_cents', 0)}"
        )
    KVStore.reset(store_name)
    return state


def run_kafka(
    bootstrap_servers: str, topic: str, checkpoint: str, kv: str = "default"
) -> None:
    """Production wiring. ``kv`` selects the sink store by name: the
    default in-process mini-Redis, or a ``redis://host:port/db`` URL for
    the real Redis deployment (the reference's target) — both run the
    same Lua-scripted atomic apply and its exactly-once guarantee."""
    spark = get_spark(app_name="sa-spark-kafka")
    classified = kafka_order_stream(spark, bootstrap_servers, topic)
    q = day_rollup_sink(
        classified, checkpoint, day_rollup_delta, store_name=kv
    ).start()
    q.awaitTermination()


def run_mock(n: int = 10) -> None:
    spark = get_spark(app_name="sa-spark-mock")
    for row in to_kafka_json(order_events_batch(spark, n)).collect():
        print(row["value"])


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--mode", choices=["demo", "kafka", "mock"], default="demo")
    ap.add_argument("--duration", type=float, default=6.0, help="demo seconds")
    ap.add_argument("--rows-per-second", type=int, default=200)
    ap.add_argument("--bootstrap-servers", default="localhost:9092")
    ap.add_argument("--topic", default="orders")
    ap.add_argument("--checkpoint", default="/tmp/sa_spark_kafka_ckpt")
    ap.add_argument(
        "--kv",
        default="default",
        help="sink store: redis://host:port/db, or an in-process mini-Redis name",
    )
    ap.add_argument("-n", type=int, default=10, help="mock rows")
    args = ap.parse_args()
    if args.mode == "demo":
        run_demo(args.duration, args.rows_per_second)
    elif args.mode == "kafka":
        run_kafka(args.bootstrap_servers, args.topic, args.checkpoint, args.kv)
    else:
        run_mock(args.n)


if __name__ == "__main__":
    main()
