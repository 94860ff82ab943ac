"""Streaming-core tests (SURVEY.md §5.2): stream-batch equivalence,
exactly-once KV sink semantics under replay, watermarked late-data
handling, streaming dedup of replayed duplicates, and stream-static
joins."""

from __future__ import annotations

import os
import tempfile
import uuid

import pytest
from pyspark.sql import functions as F

from steaminganalysis_spark.sources.registry import events_stream
from steaminganalysis_spark.streaming.datagen import order_events_batch, to_kafka_json
from steaminganalysis_spark.streaming.pipeline import (
    classify_orders,
    day_rollup_delta,
    parse_order_json,
)
from steaminganalysis_spark.streaming.sinks import (
    KEY_PREFIX,
    KVStore,
    apply_day_rollup_batch,
    day_rollup_sink,
)


def _ckpt() -> str:
    return os.path.join(tempfile.mkdtemp(prefix="sa_spark_ckpt_"), "c")


def test_datagen_matches_reference_schema(spark):
    """Generator replicates the reference producer's fields/domains
    (KafkaProducerApp.scala:38-44)."""
    df = order_events_batch(spark, n=200)
    rows = df.collect()
    assert len(rows) == 200
    assert set(df.columns) == {"time", "userId", "courseId", "fee", "flag", "orderId"}
    for r in rows:
        assert 0 <= int(r.userId) < 1000
        assert 0 <= int(r.courseId) < 500
        assert 0 <= int(r.fee) < 500
        assert r.flag in ("0", "1")
        assert len(r.orderId) == 36
        assert len(r.time) == 19  # yyyy-MM-dd HH:mm:ss


def test_json_roundtrip_and_classify(spark):
    """to_json → from_json roundtrip preserves the order event; the
    classifier reproduces StreamingAnalysisAppWithKafkaManageOffset.scala:62-64 semantics."""
    orders = order_events_batch(spark, n=100)
    wire = to_kafka_json(orders)
    parsed = parse_order_json(wire)
    assert sorted(parsed.columns) == sorted(orders.columns)
    classified = classify_orders(parsed)
    rows = classified.collect()
    orig = {r.orderId: r for r in orders.collect()}
    for r in rows:
        o = orig[r.orderId]
        assert r.success == (1 if o.flag == "1" else 0)
        assert r.fee_cents == (int(o.fee) * 100 if o.flag == "1" else 0)
        assert r.day == o.time[:10]


def test_stream_batch_equivalence_kv_sink(spark):
    """The flagship streaming pipeline through the KV sink produces the
    same per-day totals as the batch aggregate over the same events."""
    store_name = f"equiv-{uuid.uuid4().hex[:6]}"
    sf_dir = "/root/testdata/sf0.001"
    ev = events_stream(spark, sf_dir).select(
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        (F.col("event_type") == "purchase").cast("int").alias("success"),
        F.when(
            F.col("event_type") == "purchase",
            (F.col("value").cast("decimal(18,2)") * 100).cast("long"),
        )
        .otherwise(0)
        .alias("fee_cents"),
    )
    q = day_rollup_sink(ev, _ckpt(), day_rollup_delta, store_name=store_name).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    from steaminganalysis_spark.sources import load

    batch = (
        load(spark, sf_dir, "events")
        .groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day"))
        .agg(
            F.count("*").alias("total"),
            F.sum((F.col("event_type") == "purchase").cast("int")).alias("success"),
            F.sum(
                F.when(
                    F.col("event_type") == "purchase",
                    (F.col("value").cast("decimal(18,2)") * 100).cast("long"),
                ).otherwise(0)
            ).alias("fee_cents"),
        )
        .collect()
    )
    store = KVStore.instance(store_name)
    assert len(store.keys()) >= 30
    for r in batch:
        h = store.hgetall(KEY_PREFIX + r.day)
        assert h == {
            "total": r.total,
            "success": r.success,
            "fee_cents": r.fee_cents,
        }, f"day {r.day}"


def test_idempotent_sink_skips_replayed_batch(spark):
    """Replaying a batch with the same batch_id must not double-count —
    the guard the reference lacks (SURVEY.md §4.3: offsets committed
    after non-idempotent HINCRBY)."""
    store_name = f"replay-{uuid.uuid4().hex[:6]}"
    df = classify_orders(parse_order_json(to_kafka_json(order_events_batch(spark, 50))))
    apply_day_rollup_batch(df, batch_id=7, agg_fn=day_rollup_delta, store_name=store_name)
    store = KVStore.instance(store_name)
    before = {k: store.hgetall(k) for k in store.keys()}
    assert before, "first apply wrote nothing"
    # crash-replay: same batch id arrives again
    apply_day_rollup_batch(df, batch_id=7, agg_fn=day_rollup_delta, store_name=store_name)
    after = {k: store.hgetall(k) for k in store.keys()}
    assert after == before
    # a NEW batch id does accumulate
    apply_day_rollup_batch(df, batch_id=8, agg_fn=day_rollup_delta, store_name=store_name)
    doubled = {k: store.hgetall(k) for k in store.keys()}
    for k, h in before.items():
        assert doubled[k]["total"] == 2 * h["total"]


def test_stream_hll_daily_equals_batch(spark):
    """Stream≡batch register equivalence (r13, oracle-exact portable
    state): the streamed per-day estimate — whose streaming STATE is
    the (day, register) MAX-rank lattice — must equal the single-pass
    batch estimate computed from the same portable registers EXACTLY
    (the MAX lattice is order-invariant, so micro-batch accumulation
    cannot perturb any register), and the self-certifying exact
    column must sit within 8% of the estimate at this SF."""
    import __spark_entry__ as E
    from steaminganalysis_spark.operators.aggregates import (
        HLLP_M,
        _hllp_estimate_sql,
        _hllp_hash_sql,
        _hllp_rank_sql,
    )
    from steaminganalysis_spark.sources import load

    sf = "/root/testdata/sf0.001"
    rows = E.queries()["q_stream_hll_daily"](spark, sf).collect()
    got = {r.day: r.hll_est_milli for r in rows}
    ev = load(spark, sf, "events")
    batch = {
        r.day: r.est
        for r in ev.selectExpr(
            "date_format(ts, 'yyyy-MM-dd') AS day",
            f"{_hllp_hash_sql('({a} ^ {b})', 'DIV')} AS h",
        )
        .selectExpr(
            "day", f"h % {HLLP_M} AS j", f"{_hllp_rank_sql('DIV')} AS r"
        )
        .groupBy("day", "j")
        .agg(F.max("r").alias("r"))
        .alias("s")
        .groupBy("day")
        .agg(F.expr(_hllp_estimate_sql("s")).alias("est"))
        .collect()
    }
    assert got == batch  # register lattice: bit-for-bit across batching
    for r in rows:  # the witness column certifies sketch accuracy
        assert r.hll_est_milli / 1000.0 == pytest.approx(
            r.exact_distinct, rel=0.08
        ), (r.day, r.hll_est_milli, r.exact_distinct)


def test_streaming_dedup_drops_replayed_duplicates(spark, tmp_path):
    """dropDuplicates over a keyed stream collapses a re-delivered file
    of duplicate events (at-least-once upstream → effectively-once)."""
    src = tmp_path / "dup_stream"
    src.mkdir()
    ev = order_events_batch(spark, 40)
    ev.coalesce(1).write.mode("overwrite").parquet(str(src / "a"))
    # identical content delivered again as a second file batch
    ev.coalesce(1).write.mode("overwrite").parquet(str(src / "b"))
    schema = spark.read.parquet(str(src / "a")).schema
    stream = spark.readStream.schema(schema).option("recursiveFileLookup", "true").parquet(
        str(src)
    )
    name = f"dedup_{uuid.uuid4().hex[:6]}"
    agg = stream.dropDuplicates(["orderId"]).groupBy().count()
    q = agg.writeStream.outputMode("complete").format("memory").queryName(name).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    [row] = spark.table(name).collect()
    assert row["count"] == 40  # 80 delivered, 40 unique


def test_watermark_drops_late_rows_from_append(spark):
    """withWatermark + append mode: only windows whose end precedes the
    final watermark are emitted (late-data eviction — the mode the
    reference never had; SURVEY.md §2 B.8)."""
    ev = events_stream(spark, "/root/testdata/sf0.001")
    name = f"wm_{uuid.uuid4().hex[:6]}"
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 day").alias("w"))
        .agg(F.count("*").alias("n"))
    )
    q = agg.writeStream.outputMode("append").format("memory").queryName(name).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    emitted = {
        r.day: r.n
        for r in spark.table(name)
        .select(F.date_format("w.start", "yyyy-MM-dd").alias("day"), "n")
        .collect()
    }
    from steaminganalysis_spark.sources import load

    events = load(spark, "/root/testdata/sf0.001", "events")
    max_ts = events.agg(F.max("ts")).collect()[0][0]
    batch = {
        r.day: r.n
        for r in events.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day"))
        .agg(F.count("*").alias("n"))
        .collect()
    }
    # every emitted window is final and matches the batch count
    for day, n in emitted.items():
        assert batch[day] == n
    # the window containing max_ts cannot be final yet
    assert max_ts.strftime("%Y-%m-%d") not in emitted
    # and all strictly-earlier days were emitted
    finals = {d for d in batch if d < max_ts.strftime("%Y-%m-%d")}
    assert set(emitted) == finals


def test_stream_static_join(spark):
    """Streaming events enriched with a static dimension (stream-static
    join — SURVEY.md §2 B.3 last row): the static side is broadcast per
    micro-batch, no stream-side shuffle."""
    sf_dir = "/root/testdata/sf0.001"
    stream = events_stream(spark, sf_dir)
    static_dim = spark.createDataFrame(
        [("click", "browse"), ("view", "browse"), ("purchase", "buy"),
         ("signup", "acct"), ("error", "err")],
        ["event_type", "category"],
    )
    name = f"ssj_{uuid.uuid4().hex[:6]}"
    joined = (
        stream.join(F.broadcast(static_dim), "event_type")
        .groupBy("category")
        .agg(F.count("*").alias("n"))
    )
    q = joined.writeStream.outputMode("complete").format("memory").queryName(name).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {r.category: r.n for r in spark.table(name).collect()}
    from steaminganalysis_spark.sources import load

    expected = {
        r.category: r.n
        for r in load(spark, sf_dir, "events")
        .join(static_dim, "event_type")
        .groupBy("category")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got == expected


def test_rocksdb_state_store_backs_stateful_agg(spark):
    """The RocksDB state store provider (the at-scale backend: state
    spills to local disk instead of executor heap) must back a stateful
    aggregation and produce the same answer as the batch query."""
    from steaminganalysis_spark.sources import load
    from steaminganalysis_spark.sources.registry import events_stream

    key = "spark.sql.streaming.stateStore.providerClass"
    saved = spark.conf.get(key)
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        name = f"rocks_{uuid.uuid4().hex[:6]}"
        stream = events_stream(spark, "/root/testdata/sf0.001")
        q = (
            stream.groupBy("event_type")
            .agg(F.count("*").alias("n"))
            .writeStream.outputMode("complete")
            .format("memory")
            .queryName(name)
            .start()
        )
        try:
            q.processAllAvailable()
            # the provider actually in use is recorded in the state
            # operator's progress metrics
            got = {r.event_type: r.n for r in spark.table(name).collect()}
        finally:
            q.stop()
        expect = {
            r.event_type: r.n
            for r in load(spark, "/root/testdata/sf0.001", "events")
            .groupBy("event_type")
            .agg(F.count("*").alias("n"))
            .collect()
        }
        assert got == expect
    finally:
        spark.conf.set(key, saved)


def test_console_sink_runs(spark):
    """Console sink (SURVEY B.1): starts, processes the fixture stream,
    stops clean — the debug sink a developer points any pipeline at."""
    from steaminganalysis_spark.sources.registry import events_stream

    stream = events_stream(spark, "/root/testdata/sf0.001")
    q = (
        stream.groupBy("event_type")
        .count()
        .writeStream.outputMode("complete")
        .format("console")
        .option("numRows", "3")
        .start()
    )
    try:
        q.processAllAvailable()
        assert q.isActive
    finally:
        q.stop()


def _order(day: str, fee: str, flag: str, oid: str) -> str:
    return (
        f'{{"time":"{day} 10:00:00","userId":"1","courseId":"2",'
        f'"fee":"{fee}","flag":"{flag}","orderId":"{oid}"}}'
    )


# One record of each kind ``classify_orders`` rejects.
_BAD_RECORDS = [
    '{"time": "2024-03-01 10:',  # truncated JSON
    '{"whatever": 1}',  # parses, lacks every field
    '{"time":null,"fee":"1","flag":"1","orderId":"t"}',
    '{"time":"2024-03-01 10:00:00","fee":"abc","flag":"1","orderId":"f"}',
    '{"time":"2024-03-01 10:00:00","fee":"1e30","flag":"1","orderId":"o"}',
    '{"time":"2024-03-01 10:00:00","fee":"1","orderId":"m"}',  # no flag
]


def _drain_orders(spark, src, ckpt, store_name) -> None:
    """Drain the text files in ``src`` through the order sink, as the
    benchmark reads them, and require the query to end without error."""
    stream = classify_orders(parse_order_json(spark.readStream.format("text").load(src)))
    q = (
        day_rollup_sink(stream, ckpt, day_rollup_delta, store_name=store_name)
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "order sink did not drain"
    assert q.exception() is None


def test_dead_letter_routing_quarantines_bad_json(spark, tmp_path, miniredis):
    """No record can wedge the order sink: one record of each rejected
    kind passes through a real ``day_rollup_sink`` query on the wire
    path without stopping it, the good days are exact, and the rejected
    count lands in the same atomic apply."""
    from steaminganalysis_spark.streaming.sinks import REJECTED_KEY

    src = tmp_path / "src"
    src.mkdir()
    lines = [_order("2024-03-01", "100", "1", "a"), *_BAD_RECORDS]
    lines.append(_order("2024-03-02", "50", "0", "b"))
    (src / "part-0.json").write_text("\n".join(lines) + "\n")

    _drain_orders(spark, str(src), str(tmp_path / "ckpt"), miniredis)

    store = KVStore.instance(miniredis)
    assert {k: store.hgetall(k) for k in store.keys()} == {
        KEY_PREFIX + "2024-03-01": {"total": 1, "success": 1, "fee_cents": 10000},
        KEY_PREFIX + "2024-03-02": {"total": 1, "success": 0, "fee_cents": 0},
        REJECTED_KEY: {"total": len(_BAD_RECORDS)},
    }


def _restart_with_a_second_file(spark, src, ckpt, store_name) -> None:
    """Add a second file with one rejected record to the first one's
    ``src``, restart the order sink from ``ckpt`` and require every day
    total and the rejected count of both files exactly once."""
    from steaminganalysis_spark.streaming.sinks import REJECTED_KEY

    second = [
        _order("2024-03-01", "2.50", "1", "b"),
        _order("2024-03-02", "7", "0", "c"),
        _BAD_RECORDS[3],
    ]
    (src / "part-1.json").write_text("\n".join(second) + "\n")
    _drain_orders(spark, str(src), ckpt, store_name)

    store = KVStore.instance(store_name)
    assert {k: store.hgetall(k) for k in store.keys()} == {
        KEY_PREFIX + "2024-03-01": {"total": 2, "success": 2, "fee_cents": 10250},
        KEY_PREFIX + "2024-03-02": {"total": 1, "success": 0, "fee_cents": 0},
        REJECTED_KEY: {"total": 2},
    }
    commits = os.listdir(os.path.join(ckpt, "commits"))
    assert sorted(c for c in commits if not c.endswith(".crc")) == ["0", "1"]


def test_order_sink_restart_counts_rejects_once(spark, tmp_path, miniredis):
    """Restart on the wire path: batch 0 (one rejected record) applies
    and the query stops; a second file arrives and the query restarts
    from the same checkpoint. Batch 0's commit-log entry is removed
    first, as if the process died after the ``EVAL`` but before Spark
    committed, so the restart replays batch 0 too. Every day total and
    the rejected count are counted once."""
    src, ckpt = tmp_path / "src", str(tmp_path / "ckpt")
    src.mkdir()
    first = [_order("2024-03-01", "100", "1", "a"), _BAD_RECORDS[0]]
    (src / "part-0.json").write_text("\n".join(first) + "\n")
    _drain_orders(spark, str(src), ckpt, miniredis)
    for name in ("0", ".0.crc"):
        os.remove(os.path.join(ckpt, "commits", name))
    _restart_with_a_second_file(spark, src, ckpt, miniredis)


def test_order_sink_restarts_a_checkpoint_written_by_the_filecontext_manager(
    spark, tmp_path, miniredis
):
    """A checkpoint written under Spark's default
    ``FileContextBasedCheckpointFileManager`` restarts exactly under the
    session's FileSystem-based manager: batch 0 drains under the old
    default, a second file arrives, and the restart applies only it."""
    key = "spark.sql.streaming.checkpointFileManagerClass"
    src, ckpt = tmp_path / "src", str(tmp_path / "ckpt")
    src.mkdir()
    first = [_order("2024-03-01", "100", "1", "a"), _BAD_RECORDS[0]]
    (src / "part-0.json").write_text("\n".join(first) + "\n")
    session_manager = spark.conf.get(key)
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileContextBasedCheckpointFileManager",
    )
    try:
        _drain_orders(spark, str(src), ckpt, miniredis)
    finally:
        spark.conf.set(key, session_manager)
    _restart_with_a_second_file(spark, src, ckpt, miniredis)


def test_order_sink_survives_connection_dropped_after_eval(spark, tmp_path):
    """The server applies batch 0's ``EVALSHA`` and then closes the
    connection before it replies, so the query fails on that batch. A
    restart from the same checkpoint, in the same process and with the
    same store URL, reconnects: batch 0 replays and is skipped by the
    marker, and batch 1 applies once."""
    from pyspark.errors import StreamingQueryException

    from steaminganalysis_spark.backends.miniredis import MiniRedisServer

    class DropAfterFirstEval(MiniRedisServer):
        dropped = False

        def dispatch(self, argv):
            reply = super().dispatch(argv)
            if argv[0].upper() == "EVALSHA" and not self.dropped:
                self.dropped = True
                raise ConnectionAbortedError("closed before the reply")
            return reply

    srv = DropAfterFirstEval().start()
    src, ckpt = tmp_path / "src", str(tmp_path / "ckpt")
    src.mkdir()
    try:
        (src / "part-0.json").write_text(_order("2024-03-01", "100", "1", "a") + "\n")
        stream = classify_orders(
            parse_order_json(spark.readStream.format("text").load(str(src)))
        )
        q = (
            day_rollup_sink(stream, ckpt, day_rollup_delta, store_name=srv.url)
            .trigger(availableNow=True)
            .start()
        )
        with pytest.raises(StreamingQueryException, match="closed the connection"):
            q.awaitTermination(120)
        assert srv.dropped

        second = [_order("2024-03-01", "2.50", "1", "b"), _order("2024-03-02", "7", "0", "c")]
        (src / "part-1.json").write_text("\n".join(second) + "\n")
        _drain_orders(spark, str(src), ckpt, srv.url)

        store = KVStore.instance(srv.url)
        assert {k: store.hgetall(k) for k in store.keys()} == {
            KEY_PREFIX + "2024-03-01": {"total": 2, "success": 2, "fee_cents": 10250},
            KEY_PREFIX + "2024-03-02": {"total": 1, "success": 0, "fee_cents": 0},
        }
    finally:
        KVStore.reset(srv.url)
        srv.stop()


def test_order_sink_sends_increments_sorted_by_day(spark, monkeypatch):
    """The sink collects the delta columnar and sends its increments
    sorted by day, with the rejected group once and last, so one
    micro-batch sends the same argument list however Spark partitions
    it (a replay sends the same ``ARGV``). A zero-row micro-batch (an
    empty Arrow table) still advances the marker and writes no key."""
    from steaminganalysis_spark.streaming.sinks import REJECTED_KEY, RedisKVStore

    sent = []
    apply = RedisKVStore.apply_batch

    def spy(self, batch_id, increments, marker_key):
        sent.append(list(increments))
        return apply(self, batch_id, increments, marker_key)

    monkeypatch.setattr(RedisKVStore, "apply_batch", spy)
    days = [f"2020-{m:02d}-{d:02d}" for m in (3, 1, 2) for d in (9, 1, 28, 15)]
    lines = [_order(day, "1.5", str(i % 2), f"o{i}") for i, day in enumerate(days * 3)]
    raw = spark.createDataFrame([(v,) for v in lines + _BAD_RECORDS], "value string")
    for shape in (raw.repartition(4), raw.coalesce(1)):
        batch = classify_orders(parse_order_json(shape))
        store_name = f"order-{uuid.uuid4().hex[:6]}"
        apply_day_rollup_batch(batch, 0, day_rollup_delta, store_name=store_name)
    assert sent[0] == sent[1]
    keys = [k for k, _, _ in sent[0]]
    assert keys == sorted(keys)
    assert len(sent[0]) == 3 * len(days) + 1
    rejected = [i for i in sent[0] if i[0] == REJECTED_KEY]
    assert rejected == [(REJECTED_KEY, "total", len(_BAD_RECORDS))]

    store_name = f"order-{uuid.uuid4().hex[:6]}"
    empty = classify_orders(parse_order_json(raw.limit(0)))
    apply_day_rollup_batch(empty, 5, day_rollup_delta, store_name=store_name)
    assert sent[2] == []
    store = KVStore.instance(store_name)
    assert store.last_applied(f"{KEY_PREFIX}last-applied-batch:default") == 5
    assert store.keys() == []


def test_streaming_metrics_listener_collects_batches(spark):
    """The BatchMetricsListener must see query start, per-batch progress
    with the right row counts, and termination."""
    import uuid as _uuid

    from steaminganalysis_spark.sources.registry import events_stream
    from steaminganalysis_spark.streaming.metrics import BatchMetricsListener

    listener = BatchMetricsListener()
    spark.streams.addListener(listener)
    try:
        name = f"metrics_{_uuid.uuid4().hex[:6]}"
        stream = events_stream(spark, "/root/testdata/sf0.001")
        q = (
            stream.groupBy("event_type")
            .count()
            .writeStream.outputMode("complete")
            .format("memory")
            .queryName(name)
            .start()
        )
        try:
            q.processAllAvailable()
            qid = str(q.id)
        finally:
            q.stop()
        import time as _t

        # listener events are delivered asynchronously on the listener
        # bus — poll up to 15s for them to land
        deadline = _t.time() + 15
        while _t.time() < deadline and (
            listener.total_rows(qid) < 1000 or qid not in listener.terminated
        ):
            _t.sleep(0.2)
        assert qid in listener.started
        # the fixture has 1000 rows at sf0.001; all must be observed
        assert listener.total_rows(qid) == 1000, listener.batches
        batch = next(b for b in listener.batches if b["query_id"] == qid)
        assert batch["duration_ms"] is None or batch["duration_ms"] >= 0
        assert qid in listener.terminated
    finally:
        spark.streams.removeListener(listener)


def test_rate_source_stream_builds(spark):
    """The continuous datagen stream compiles to a valid streaming plan
    (smoke only — no wall-clock waits in tests)."""
    from steaminganalysis_spark.streaming.datagen import order_events_stream

    df = order_events_stream(spark, rows_per_second=5)
    assert df.isStreaming
    assert set(df.columns) == {"time", "userId", "courseId", "fee", "flag", "orderId"}


def test_stream_stream_join_with_watermarks(spark):
    """Stream-stream inner join (purchases ⋈ prior clicks within 1h per
    user) with watermarks on both sides — state is bounded by the
    time-range condition; result equals the equivalent batch join."""
    sf_dir = "/root/testdata/sf0.001"
    ev = events_stream(spark, sf_dir)
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id", F.col("ts").alias("p_ts"), F.col("event_id").alias("p_id"))
        .withWatermark("p_ts", "2 hours")
    )
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"),
                F.col("event_id").alias("c_id"))
        .withWatermark("c_ts", "2 hours")
    )
    cond = (
        (purchases.user_id == clicks.c_user)
        & (clicks.c_ts < purchases.p_ts)
        & (clicks.c_ts >= purchases.p_ts - F.expr("INTERVAL 1 HOUR"))
    )
    name = f"ssj2_{uuid.uuid4().hex[:6]}"
    joined = purchases.join(clicks, cond).select("p_id", "c_id")
    q = joined.writeStream.outputMode("append").format("memory").queryName(name).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {(r.p_id, r.c_id) for r in spark.table(name).collect()}

    from steaminganalysis_spark.sources import load

    events = load(spark, sf_dir, "events")
    p = events.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("p_ts"), F.col("event_id").alias("p_id")
    )
    c = events.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"),
        F.col("event_id").alias("c_id")
    )
    expected = {
        (r.p_id, r.c_id)
        for r in p.join(
            c,
            (p.user_id == c.c_user)
            & (c.c_ts < p.p_ts)
            & (c.c_ts >= p.p_ts - F.expr("INTERVAL 1 HOUR")),
        ).select("p_id", "c_id").collect()
    }
    assert expected, "fixture should contain click→purchase pairs within 1h"
    assert got == expected


def test_stream_stream_left_outer_join(spark):
    """LEFT OUTER stream-stream join: purchases with no prior click
    within the hour must still be emitted (with NULL click id) once the
    watermark passes — the semantics inner joins silently drop. Matched
    pairs must equal the batch join; every purchase appears exactly
    once-or-more-with-match."""
    sf_dir = "/root/testdata/sf0.001"
    ev = events_stream(spark, sf_dir)
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id", F.col("ts").alias("p_ts"), F.col("event_id").alias("p_id"))
        .withWatermark("p_ts", "2 hours")
    )
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
            F.col("event_id").alias("c_id"),
        )
        .withWatermark("c_ts", "2 hours")
    )
    cond = (
        (purchases.user_id == clicks.c_user)
        & (clicks.c_ts < purchases.p_ts)
        & (clicks.c_ts >= purchases.p_ts - F.expr("INTERVAL 1 HOUR"))
    )
    name = f"sslo_{uuid.uuid4().hex[:6]}"
    joined = purchases.join(clicks, cond, "leftOuter").select("p_id", "c_id")
    q = joined.writeStream.outputMode("append").format("memory").queryName(name).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {(r.p_id, r.c_id) for r in spark.table(name).collect()}

    from steaminganalysis_spark.sources import load

    events = load(spark, sf_dir, "events")
    p = events.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("p_ts"), F.col("event_id").alias("p_id")
    )
    c = events.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
        F.col("event_id").alias("c_id"),
    )
    batch = p.join(
        c,
        (p.user_id == c.c_user)
        & (c.c_ts < p.p_ts)
        & (c.c_ts >= p.p_ts - F.expr("INTERVAL 1 HOUR")),
        "left",
    ).select("p_id", "c_id")
    expected = {(r.p_id, r.c_id) for r in batch.collect()}
    # matched pairs must agree exactly with the batch join
    assert {t for t in got if t[1] is not None} == {
        t for t in expected if t[1] is not None
    }
    # null-emission: final-watermark rows may still be pending for
    # purchases near the end of the fixture window, but every purchase
    # with a match must be present and no spurious pairs may exist
    assert got <= expected | {(pid, None) for pid, _ in expected}


def test_parquet_sink_exactly_once(spark, tmp_path):
    """File (parquet) streaming sink: output committed transactionally
    per batch; restarting from the same checkpoint over the same input
    produces no duplicate rows."""
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    sf_dir = "/root/testdata/sf0.001"
    for _ in range(2):  # second start: nothing new → no duplicates
        ev = events_stream(spark, sf_dir).select("event_id", "user_id", "event_type")
        q = (
            ev.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
    written = spark.read.parquet(out)
    assert written.count() == 1000
    assert written.select("event_id").distinct().count() == 1000


def test_statestore_reader_exposes_streaming_state(spark, tmp_path):
    """Spark 4 state-store data source: the checkpointed state of a
    streaming aggregation must be readable as a DataFrame and agree
    with the batch answer — the ops/debugging window into stateful
    streams."""
    name = f"st_{uuid.uuid4().hex[:6]}"
    ckpt = str(tmp_path / "ckpt")
    agg = (
        events_stream(spark, "/root/testdata/sf0.001")
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
    )
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    state = spark.read.format("statestore").load(ckpt)
    # the state value carries the aggregate BUFFER field name ("count"),
    # not the output alias
    got = {
        r["key"]["event_type"]: r["value"]["count"] for r in state.collect()
    }
    from steaminganalysis_spark.sources import load

    batch = {
        r.event_type: r.n
        for r in load(spark, "/root/testdata/sf0.001", "events")
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got == batch


def test_observe_collects_runtime_metrics(spark):
    """df.observe: per-action runtime metrics (row counts, sums)
    without a second scan — the lineage-free accounting hook a
    production pipeline attaches to every stage."""
    from pyspark.sql import Observation

    from steaminganalysis_spark.sources import load

    obs = Observation("pipeline_metrics")
    ev = load(spark, "/root/testdata/sf0.001", "events")
    out = (
        ev.observe(
            obs,
            F.count(F.lit(1)).alias("rows_in"),
            F.count(F.when(F.col("event_type") == "purchase", 1)).alias(
                "purchases"
            ),
        )
        .filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.count("*").alias("n"))
    )
    n_users = out.count()
    m = obs.get
    assert m["rows_in"] == ev.count()
    assert m["purchases"] >= n_users  # every counted user has >=1 purchase


def test_transform_with_state_matches_batch(spark, tmp_path):
    """The Spark 4 transformWithStateInPandas operator must produce
    the same final per-user profile as the batch aggregation (and as
    the applyInPandasWithState twin it supersedes). Environment-gated:
    the TWS worker protocol needs google.protobuf, absent in this
    container — the operator is wired and this test runs wherever
    protobuf is installed (same policy as the Redis/Kafka adapters)."""
    from steaminganalysis_spark.streaming.stateful import (
        have_tws_protocol,
        running_user_totals_tws,
    )

    ok, reason = have_tws_protocol()
    if not ok:
        # the operator itself fail-fasts with the same probe, so the
        # wiring (not just this test) names the exact missing dep
        with pytest.raises(ImportError, match="google.protobuf"):
            running_user_totals_tws(events_stream(spark, "/root/testdata/sf0.001"))
        pytest.skip(reason)
    from steaminganalysis_spark.sources import load

    sf = "/root/testdata/sf0.001"
    name = f"tws_{uuid.uuid4().hex[:6]}"
    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        out = running_user_totals_tws(events_stream(spark, sf))
        q = (
            out.writeStream.outputMode("update")
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
    # last update per user is the final profile
    got = {}
    for r in spark.table(name).collect():
        got[r.user_id] = (r.n_events, r.spend_cents)
    ev = load(spark, sf, "events")
    batch = {
        r.user_id: (r.n, r.cents)
        for r in ev.groupBy("user_id")
        .agg(
            F.count("*").alias("n"),
            F.sum(
                F.when(
                    F.col("event_type") == "purchase",
                    F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long"),
                ).otherwise(F.lit(0))
            ).alias("cents"),
        )
        .collect()
    }
    assert got == batch


def test_scd2_merge_replay_and_affected_keys(spark, tmp_path):
    """Incremental SCD2 merge (streaming/scd2.py): (1) a replayed
    committed batch id is a no-op — the version set and watermark are
    unchanged; (2) a merge only appends changes for AFFECTED users and
    only when the status actually changes relative to their seed row."""
    import os

    from steaminganalysis_spark.streaming.scd2 import (
        merge_cdc_batch,
        read_changes,
    )
    from steaminganalysis_spark.streaming.sinks import KVStore

    store_name = f"scd2_test_{os.getpid()}"
    scope = "t1"
    table_dir = str(tmp_path / "table")

    b0 = spark.createDataFrame(
        [(1, "a", "2024-01-01 00:00:00", 10), (2, "x", "2024-01-01 01:00:00", 11)],
        "user_id long, event_type string, ts string, event_id long",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    merge_cdc_batch(b0, 0, table_dir, store_name, scope)
    t0 = {tuple(r) for r in read_changes(spark, table_dir, store_name, scope).collect()}
    assert len(t0) == 2

    # replay of committed batch 0: no-op
    merge_cdc_batch(b0, 0, table_dir, store_name, scope)
    assert {
        tuple(r) for r in read_changes(spark, table_dir, store_name, scope).collect()
    } == t0

    # batch 1 touches only user 2: one real change ('x'->'y') and one
    # no-op repeat ('y'->'y') that must be collapsed against the chain
    b1 = spark.createDataFrame(
        [(2, "y", "2024-01-02 00:00:00", 20), (2, "y", "2024-01-02 01:00:00", 21)],
        "user_id long, event_type string, ts string, event_id long",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    merge_cdc_batch(b1, 1, table_dir, store_name, scope)
    t1 = read_changes(spark, table_dir, store_name, scope)
    rows = {(r["user_id"], r["status"], r["event_id"]) for r in t1.collect()}
    assert rows == {(1, "a", 10), (2, "x", 11), (2, "y", 20)}

    # batch 2: same status as user 2's current ('y') — zero new rows
    b2 = spark.createDataFrame(
        [(2, "y", "2024-01-03 00:00:00", 30)],
        "user_id long, event_type string, ts string, event_id long",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    merge_cdc_batch(b2, 2, table_dir, store_name, scope)
    assert read_changes(spark, table_dir, store_name, scope).count() == 3
    KVStore.reset(store_name)


def test_scd2_stream_invariant_to_batch_boundaries(spark, tmp_path):
    """The merged change table is identical whether the change log
    arrives as one batch or split at a time boundary — the
    convergence property the registered oracle asserts, pinned here
    directly at the merge level."""
    import os

    from steaminganalysis_spark.streaming.scd2 import (
        merge_cdc_batch,
        read_changes,
    )
    from steaminganalysis_spark.streaming.sinks import KVStore

    data = [
        (1, "a", "2024-01-01 00:00:00", 1),
        (1, "b", "2024-01-02 00:00:00", 2),
        (1, "b", "2024-01-03 00:00:00", 3),
        (1, "c", "2024-01-04 00:00:00", 4),
        (2, "x", "2024-01-01 12:00:00", 5),
        (2, "x", "2024-01-03 12:00:00", 6),
    ]
    schema = "user_id long, event_type string, ts string, event_id long"

    def run(splits, tag):
        store = f"scd2_bnd_{os.getpid()}_{tag}"
        tdir = str(tmp_path / f"table_{tag}")
        for bid, chunk in enumerate(splits):
            df = spark.createDataFrame(chunk, schema).withColumn(
                "ts", F.col("ts").cast("timestamp")
            )
            merge_cdc_batch(df, bid, tdir, store, "s")
        out = {
            tuple(r)
            for r in read_changes(spark, tdir, store, "s").collect()
        }
        KVStore.reset(store)
        return out

    whole = run([data], "whole")
    split = run([data[:3], data[3:]], "split")
    assert whole == split and len(whole) == 4


def test_available_now_trigger_drains_and_terminates(spark):
    """``Trigger.AvailableNow`` — the production batch-drain mode (run a
    streaming pipeline over everything currently available, commit, and
    STOP, preserving the checkpoint for the next scheduled drain): the
    flagship KV pipeline under availableNow terminates on its own (no
    processAllAvailable/stop choreography) and leaves exactly the batch
    answer in the store — same totals as the always-on variant."""
    store_name = f"avnow-{uuid.uuid4().hex[:6]}"
    sf_dir = "/root/testdata/sf0.001"
    ev = events_stream(spark, sf_dir).select(
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        (F.col("event_type") == "purchase").cast("int").alias("success"),
        F.when(
            F.col("event_type") == "purchase",
            (F.col("value").cast("decimal(18,2)") * 100).cast("long"),
        )
        .otherwise(0)
        .alias("fee_cents"),
    )
    q = (
        day_rollup_sink(ev, _ckpt(), day_rollup_delta, store_name=store_name)
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "availableNow query did not self-terminate"

    from steaminganalysis_spark.sources import load

    batch = (
        load(spark, sf_dir, "events")
        .groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day"))
        .agg(F.count("*").alias("total"))
        .collect()
    )
    store = KVStore.instance(store_name)
    got = {k.removeprefix(KEY_PREFIX): store.hgetall(k)["total"] for k in store.keys()}
    assert got == {r["day"]: r["total"] for r in batch}
    KVStore.reset(store_name)


def test_scd2_merge_crash_between_write_and_commit_is_idempotent(spark, tmp_path):
    """The SCD2 merge's crash story (streaming/scd2.py): the version
    directory is written BEFORE the watermark commits, so a crash
    between the two leaves an orphan version dir and an unmoved
    marker. The replay must recompute the identical version from the
    committed predecessor, overwrite the orphan, and commit — final
    state equal to the no-crash run."""
    import os

    from steaminganalysis_spark.streaming.scd2 import (
        merge_cdc_batch,
        read_changes,
    )
    from steaminganalysis_spark.streaming.sinks import KVStore

    schema = "user_id long, event_type string, ts string, event_id long"
    b0 = [(1, "a", "2024-01-01 00:00:00", 1), (2, "x", "2024-01-01 01:00:00", 2)]
    b1 = [(1, "b", "2024-01-02 00:00:00", 3), (2, "x", "2024-01-02 01:00:00", 4)]

    def df(rows):
        from pyspark.sql import functions as F

        return spark.createDataFrame(rows, schema).withColumn(
            "ts", F.col("ts").cast("timestamp")
        )

    store = f"scd2_crash_{os.getpid()}"
    tdir = str(tmp_path / "t")
    merge_cdc_batch(df(b0), 0, tdir, store, "s")

    # Simulate the crash: write batch 1's version dir WITHOUT the
    # marker commit — and corrupt it, so only a genuine recompute (not
    # a lucky read of the orphan) can produce the right answer.
    orphan = os.path.join(tdir, "v1")
    read_changes(spark, tdir, store, "s").limit(0).write.mode("overwrite").parquet(orphan)
    from steaminganalysis_spark.streaming.sinks import KEY_PREFIX

    assert KVStore.instance(store).last_applied(f"{KEY_PREFIX}scd2-last-applied:s") == 0

    # Replay of batch 1 (same bid, marker still 0): must overwrite the
    # corrupt orphan from the committed v0 and commit.
    merge_cdc_batch(df(b1), 1, tdir, store, "s")
    rows = {
        (r["user_id"], r["status"], r["event_id"])
        for r in read_changes(spark, tdir, store, "s").collect()
    }
    # user 1: a then b (both changes); user 2: x only (batch-1 repeat collapsed)
    assert rows == {(1, "a", 1), (1, "b", 3), (2, "x", 2)}
    KVStore.reset(store)


def test_stream_stream_join_state_survives_restart(spark, tmp_path):
    """Checkpointed JOIN state recovery: run the watermarked
    purchase⋈click stream-stream inner join over the first tranche of
    events, stop, deliver two more tranches, restart from the SAME
    checkpoint, and drain. The union of the two runs' (append-mode
    parquet) output must equal the batch join over all events — pairs
    whose purchase and click arrived in DIFFERENT runs can only match
    if the buffered join state was restored from the checkpoint."""
    import glob
    import os
    import shutil

    from steaminganalysis_spark.sources import load

    sf_dir = "/root/testdata/sf0.001"
    ev = load(spark, sf_dir, "events").select("event_id", "ts", "user_id", "event_type")
    src = str(tmp_path / "src")
    os.makedirs(src)
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    # first boundary chosen to SPLIT a known matched pair (purchase
    # event 178 @ 2024-01-06 08:24 vs click 175 @ 07:44) so the
    # cross-run recovery evidence below cannot be vacuous
    bounds = [
        (None, "2024-01-06 08:00:00"),
        ("2024-01-06 08:00:00", "2024-01-16 00:00:00"),
        ("2024-01-16 00:00:00", None),
    ]
    tranches = []
    for i, (lo, hi) in enumerate(bounds):
        part = ev
        if lo:
            part = part.filter(F.col("ts") >= F.lit(lo).cast("timestamp"))
        if hi:
            part = part.filter(F.col("ts") < F.lit(hi).cast("timestamp"))
        d = str(tmp_path / f"b{i}")
        part.coalesce(1).write.parquet(d)
        tranches.append(glob.glob(os.path.join(d, "part-*.parquet"))[0])

    def run_once():
        stream = (
            spark.readStream.schema(
                "event_id long, ts timestamp, user_id long, event_type string"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        p = (
            stream.filter(F.col("event_type") == "purchase")
            .select("user_id", F.col("ts").alias("p_ts"), F.col("event_id").alias("p_id"))
            .withWatermark("p_ts", "2 hours")
        )
        c = (
            stream.filter(F.col("event_type") == "click")
            .select(
                F.col("user_id").alias("c_user"),
                F.col("ts").alias("c_ts"),
                F.col("event_id").alias("c_id"),
            )
            .withWatermark("c_ts", "2 hours")
        )
        cond = (
            (p.user_id == c.c_user)
            & (c.c_ts < p.p_ts)
            & (c.c_ts >= p.p_ts - F.expr("INTERVAL 1 HOUR"))
        )
        q = (
            p.join(c, cond)
            .select("p_id", "c_id")
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    # run 1: only the first tranche has arrived
    shutil.copy(tranches[0], os.path.join(src, "b0.parquet"))
    run_once()
    # tranches 2 and 3 arrive while the pipeline is DOWN
    shutil.copy(tranches[1], os.path.join(src, "b1.parquet"))
    shutil.copy(tranches[2], os.path.join(src, "b2.parquet"))
    run_once()

    got = {
        (r["p_id"], r["c_id"])
        for r in spark.read.schema("p_id long, c_id long").parquet(out).collect()
    }
    pb = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("p_ts"), F.col("event_id").alias("p_id")
    )
    cb = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
        F.col("event_id").alias("c_id"),
    )
    want = {
        (r["p_id"], r["c_id"])
        for r in pb.join(
            cb,
            (pb.user_id == cb.c_user)
            & (cb.c_ts < pb.p_ts)
            & (cb.c_ts >= pb.p_ts - F.expr("INTERVAL 1 HOUR")),
        )
        .select("p_id", "c_id")
        .collect()
    }
    assert got == want
    # cross-run evidence: at least one pair straddles the restart
    # (purchase in tranche 2/3 matching a click from tranche 1, within
    # the 1h window across the 2024-01-11 boundary) OR no such pair
    # exists in the data — then the equality above already proves
    # nothing was lost. Check which, and if a straddler exists assert
    # it was emitted by run 2 (i.e., present in got).
    t0_ids = {r["event_id"] for r in spark.read.parquet(str(tmp_path / "b0")).collect()}
    straddlers = {(a, b) for (a, b) in want if b in t0_ids and a not in t0_ids}
    assert straddlers, "fixture drift: no pair straddles the restart boundary"
    assert straddlers <= got


def test_dedup_within_watermark_suppresses_across_batches(spark, tmp_path):
    """dropDuplicatesWithinWatermark: a duplicate re-delivered in a
    LATER micro-batch, inside the watermark horizon, is suppressed by
    the cross-batch state — and the first-seen copies all emitted.
    (maxFilesPerTrigger=1 forces the replay into its own batch, so
    this exercises the state store, not within-batch dedup.)"""
    src = tmp_path / "dupwm_stream"
    src.mkdir()
    ev = order_events_batch(spark, 40)
    ev.coalesce(1).write.mode("overwrite").parquet(str(src / "a"))
    ev.coalesce(1).write.mode("overwrite").parquet(str(src / "b"))  # replay
    schema = spark.read.parquet(str(src / "a")).schema
    stream = (
        spark.readStream.schema(schema)
        .option("recursiveFileLookup", "true")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    name = f"dedupwm_{uuid.uuid4().hex[:6]}"
    agg = (
        stream.withColumn("ts", F.to_timestamp("time"))
        .withWatermark("ts", "2 hours")
        .dropDuplicatesWithinWatermark(["orderId"])
        .groupBy()
        .count()
    )
    q = agg.writeStream.outputMode("complete").format("memory").queryName(name).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    [row] = spark.table(name).collect()
    assert row["count"] == 40  # 80 delivered across 2 batches, 40 unique


def test_scd2_time_travel_reads_historical_version(spark, tmp_path):
    """Time travel over the SCD2 version chain: after two merged
    batches, version 0 must equal the merge of batch 0 ALONE (the
    dimension as it was), while the committed head reflects both — and
    probing an uncommitted version number is refused."""
    import os

    import pytest as _pytest

    from steaminganalysis_spark.streaming.scd2 import (
        merge_cdc_batch,
        read_changes,
        read_changes_at,
    )
    from steaminganalysis_spark.streaming.sinks import KVStore

    schema = "user_id long, event_type string, ts string, event_id long"
    b0 = [
        (1, "a", "2024-01-01 00:00:00", 1),
        (2, "x", "2024-01-01 12:00:00", 2),
    ]
    b1 = [
        (1, "b", "2024-01-02 00:00:00", 3),
        (2, "x", "2024-01-03 12:00:00", 4),
    ]

    def df(rows):
        return spark.createDataFrame(rows, schema).withColumn(
            "ts", F.col("ts").cast("timestamp")
        )

    store = f"scd2_tt_{os.getpid()}"
    tdir = str(tmp_path / "table")
    merge_cdc_batch(df(b0), 0, tdir, store, "s")
    after_b0 = {tuple(r) for r in read_changes_at(spark, tdir, store, "s", 0).collect()}
    merge_cdc_batch(df(b1), 1, tdir, store, "s")

    # version 0 is untouched by batch 1's merge
    assert {tuple(r) for r in read_changes_at(spark, tdir, store, "s", 0).collect()} == after_b0
    head = {tuple(r) for r in read_changes(spark, tdir, store, "s").collect()}
    assert after_b0 < head  # strictly grew: user 1 gained the 'b' change
    assert len(after_b0) == 2 and len(head) == 3  # duplicate x dropped
    with _pytest.raises(FileNotFoundError):
        read_changes_at(spark, tdir, store, "s", 7)
    # a version dir above the watermark (a crash before the marker
    # advanced) is refused like an absent one
    df(b0).write.parquet(os.path.join(tdir, "v9"))
    with _pytest.raises(FileNotFoundError):
        read_changes_at(spark, tdir, store, "s", 9)
    KVStore.reset(store)


def _write_ts_tranches(spark, ev, tmp_path, tag, n_tranches):
    """Split the events frame into n ts-ordered parquet files (quantile
    boundaries) under tmp_path/src_{tag}, with strictly increasing
    mtimes so the file stream source delivers them in order. Returns
    the source dir."""
    import glob
    import os
    import shutil
    import time

    qs = [i / n_tranches for i in range(1, n_tranches)]
    cuts_epoch = (
        ev.withColumn("_e", F.col("ts").cast("double")).approxQuantile("_e", qs, 0.0)
        if qs
        else []
    )
    cuts = [F.timestamp_seconds(F.lit(c)) for c in cuts_epoch]
    bounds = []
    lo = None
    for c in cuts:
        bounds.append((lo, c))
        lo = c
    bounds.append((lo, None))
    src = str(tmp_path / f"src_{tag}")
    os.makedirs(src)
    for i, (b_lo, b_hi) in enumerate(bounds):
        part = ev
        if b_lo is not None:
            part = part.filter(F.col("ts") >= b_lo)
        if b_hi is not None:
            part = part.filter(F.col("ts") < b_hi)
        d = str(tmp_path / f"tr_{tag}_{i}")
        part.coalesce(1).write.parquet(d)
        dst = os.path.join(src, f"b{i}.parquet")
        shutil.copy(glob.glob(os.path.join(d, "part-*.parquet"))[0], dst)
        os.utime(dst, (time.time() + i, time.time() + i))
    return src


def _run_full_outer_join_stream(spark, src, p_delay="2 hours", c_delay="2 hours"):
    """The q_stream_stream_full_join topology over a multi-file source
    (maxFilesPerTrigger=1), returning the run-to-completion emitted
    set of (p_id, c_id)."""
    stream = (
        spark.readStream.schema("event_id long, ts timestamp, user_id long, event_type string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    p = (
        stream.filter(F.col("event_type") == "purchase")
        .select("user_id", F.col("ts").alias("p_ts"), F.col("event_id").alias("p_id"))
        .withWatermark("p_ts", p_delay)
    )
    c = (
        stream.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
            F.col("event_id").alias("c_id"),
        )
        .withWatermark("c_ts", c_delay)
    )
    cond = (
        (p.user_id == c.c_user)
        & (c.c_ts < p.p_ts)
        & (c.c_ts >= p.p_ts - F.expr("INTERVAL 1 HOUR"))
    )
    name = f"ssfj_bnd_{uuid.uuid4().hex[:8]}"
    q = (
        p.join(c, cond, "full_outer")
        .select("p_id", "c_id")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return {(r["p_id"], r["c_id"]) for r in spark.table(name).collect()}


def test_full_outer_join_invariant_to_batch_boundaries(spark, tmp_path):
    """VERDICT r4 order #4: q_stream_stream_full_join's oracle encodes
    a run-to-completion watermark; the emitted set must not depend on
    HOW the replay was micro-batched. Deliver the same events in 1, 2,
    3, and 5 ts-ordered tranches and assert the four emitted sets are
    identical — per-side eviction boundaries (p_ts vs c_ts + 1h) and
    the global-MIN watermark rule must all commute with batching."""
    from steaminganalysis_spark.sources import load

    ev = load(spark, "/root/testdata/sf0.001", "events").select(
        "event_id", "ts", "user_id", "event_type"
    )
    results = {}
    for n in (1, 2, 3, 5):
        src = _write_ts_tranches(spark, ev, tmp_path, f"fj{n}", n)
        results[n] = _run_full_outer_join_stream(spark, src)
    assert results[1] == results[2] == results[3] == results[5]
    # the set is the interesting one: it has matches AND both-side nulls
    got = results[1]
    assert any(p is not None and c is not None for p, c in got)
    assert any(c is None for _, c in got), "no unmatched purchases emitted"
    assert any(p is None for p, _ in got), "no unmatched clicks emitted"


def test_full_outer_join_asymmetric_watermark_delays(spark, tmp_path):
    """Stretch (VERDICT r4 order #8): per-side watermark-delay
    asymmetry exercises the global-MIN rule harder than equal delays —
    the query watermark is min over branches of (branch max event time
    − branch delay), so the slow branch (click, 6h delay here) gates
    BOTH sides' eviction. Expected set computed independently in SQL
    from that rule; also must stay batch-boundary invariant."""
    from steaminganalysis_spark.sources import load

    ev = load(spark, "/root/testdata/sf0.001", "events").select(
        "event_id", "ts", "user_id", "event_type"
    )
    ev.createOrReplaceTempView("ev_asym")
    expected = {
        (r["p_id"], r["c_id"])
        for r in spark.sql(
            """
        WITH p AS (SELECT user_id, ts AS p_ts, event_id AS p_id FROM ev_asym
              WHERE event_type = 'purchase'),
        c AS (SELECT user_id, ts AS c_ts, event_id AS c_id FROM ev_asym
              WHERE event_type = 'click'),
        wm AS (SELECT LEAST((SELECT MAX(p_ts) - INTERVAL 30 MINUTES FROM p),
                            (SELECT MAX(c_ts) - INTERVAL 6 HOURS FROM c)) AS w),
        matched AS (
          SELECT p.p_id, c.c_id
          FROM p JOIN c ON c.user_id = p.user_id
                       AND c.c_ts < p.p_ts
                       AND c.c_ts >= p.p_ts - INTERVAL 1 HOUR
        )
        SELECT p_id, c_id FROM matched
        UNION ALL
        SELECT p.p_id, NULL AS c_id FROM p, wm
        WHERE p.p_ts < wm.w
          AND NOT EXISTS (SELECT 1 FROM matched m WHERE m.p_id = p.p_id)
        UNION ALL
        SELECT NULL AS p_id, c.c_id FROM c, wm
        WHERE c.c_ts + INTERVAL 1 HOUR < wm.w
          AND NOT EXISTS (SELECT 1 FROM matched m WHERE m.c_id = c.c_id)
        """
        ).collect()
    }
    for n in (1, 3):
        src = _write_ts_tranches(spark, ev, tmp_path, f"asym{n}", n)
        got = _run_full_outer_join_stream(
            spark, src, p_delay="30 minutes", c_delay="6 hours"
        )
        assert got == expected, f"asymmetric-delay mismatch at {n} tranches"


def test_cdc_scd2_fixture_invariant_to_batch_boundaries(spark, tmp_path):
    """VERDICT r4 order #4 (second key): the registered
    q_stream_cdc_scd2 replays the fixture change log in three
    ts-ordered micro-batches; its oracle is the batch SCD2 SQL. Pin the
    convergence claim at the fixture scale: merging the same log in 1,
    2, and 5 ts-boundary batches yields byte-identical validity
    intervals."""
    import glob
    import os

    from steaminganalysis_spark.sources import load
    from steaminganalysis_spark.streaming.scd2 import (
        intervals_from_changes,
        merge_cdc_batch,
        read_changes,
    )
    from steaminganalysis_spark.streaming.sinks import KVStore

    ev = load(spark, "/root/testdata/sf0.001", "events").select(
        "event_id", "ts", "user_id", "event_type"
    )

    def run(n):
        src = _write_ts_tranches(spark, ev, tmp_path, f"scd{n}", n)
        store = f"scd2_fixt_{uuid.uuid4().hex[:6]}"
        tdir = str(tmp_path / f"table_scd{n}")
        files = sorted(glob.glob(os.path.join(src, "b*.parquet")))
        assert len(files) == n
        for bid, f in enumerate(files):
            merge_cdc_batch(spark.read.parquet(f), bid, tdir, store, "s")
        out = {
            tuple(r)
            for r in intervals_from_changes(
                read_changes(spark, tdir, store, "s")
            ).collect()
        }
        KVStore.reset(store)
        return out

    one, two, five = run(1), run(2), run(5)
    assert one == two == five
    assert len(one) > 100  # fixture-scale, not a toy


def test_stream_dq_drift_multibatch_equals_batch(spark, tmp_path):
    """q_stream_dq_drift under real micro-batch boundaries: the events
    replay as three ts-ordered tranche files with maxFilesPerTrigger=1
    (three genuine batches, cells updated incrementally) and the final
    drift report must equal the BATCH operator exactly — the
    stream≡batch certificate the single-batch oracle run can't give."""
    import glob
    import os
    import shutil
    import uuid as _uuid

    from steaminganalysis_spark.sources import load as _load

    sf = "/root/testdata/sf0.001"
    ev = _load(spark, sf, "events")
    src = str(tmp_path / "ev_stream")
    os.makedirs(src)
    bounds = [
        (None, "2024-01-10 00:00:00"),
        ("2024-01-10 00:00:00", "2024-01-16 12:00:00"),  # straddles the
        ("2024-01-16 12:00:00", None),  # ref/cur split so cur cells
        # accumulate across two different batches
    ]
    for i, (lo, hi) in enumerate(bounds):
        part = ev
        if lo:
            part = part.filter(F.col("ts") >= F.lit(lo).cast("timestamp"))
        if hi:
            part = part.filter(F.col("ts") < F.lit(hi).cast("timestamp"))
        d = str(tmp_path / f"t{i}")
        part.coalesce(1).write.parquet(d)
        shutil.copy(
            glob.glob(os.path.join(d, "part-*.parquet"))[0],
            os.path.join(src, f"b{i}.parquet"),
        )
    name = f"drift_mb_{_uuid.uuid4().hex[:8]}"
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    cells = (
        stream.select(
            "event_type",
            F.when(F.to_date("ts") < F.lit("2024-01-16"), "ref")
            .otherwise("cur")
            .alias("cohort"),
            F.expr(
                "CAST(FLOOR(CAST(value AS DOUBLE) * 100.0D + 0.5D) AS BIGINT)"
                " div 2000"
            ).alias("bucket"),
        )
        .groupBy("event_type", "bucket", "cohort")
        .agg(F.count("*").alias("n"))
    )
    q = (
        cells.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
        assert len(q.recentProgress) >= 3  # genuinely multi-batch
    finally:
        q.stop()
    state = spark.table(name).localCheckpoint(eager=True)
    wide = state.groupBy("event_type", "bucket").agg(
        F.sum(F.when(F.col("cohort") == "ref", F.col("n")).otherwise(0)).alias("n_ref"),
        F.sum(F.when(F.col("cohort") == "cur", F.col("n")).otherwise(0)).alias("n_cur"),
    )
    tot = wide.groupBy("event_type").agg(
        F.sum("n_ref").alias("t_ref"),
        F.sum("n_cur").alias("t_cur"),
        F.count("*").alias("n_buckets"),
    )
    got = {
        r.event_type: (r.n_ref, r.n_cur, r.n_buckets, r.tvd2_ppm)
        for r in wide.join(F.broadcast(tot), "event_type")
        .groupBy("event_type", "t_ref", "t_cur", "n_buckets")
        .agg(
            F.sum(
                F.abs(
                    F.expr("(n_ref * 1000000) div t_ref")
                    - F.expr("(n_cur * 1000000) div t_cur")
                )
            ).cast("long").alias("tvd2_ppm")
        )
        .selectExpr(
            "event_type", "CAST(t_ref AS BIGINT) n_ref",
            "CAST(t_cur AS BIGINT) n_cur", "n_buckets", "tvd2_ppm"
        )
        .collect()
    }
    from steaminganalysis_spark.registry import collect_queries

    batch_q = collect_queries()[0]["q_dq_drift"]
    want = {
        r.event_type: (r.n_ref, r.n_cur, r.n_buckets, r.tvd2_ppm)
        for r in batch_q(spark, sf).collect()
    }
    assert got == want


def test_mv_merge_replay_and_crash_idempotence(spark, tmp_path):
    """The streaming MV merge (streaming/mv.py): (a) a replayed
    committed batch id is a NO-OP — the view never double-counts a
    delta under at-least-once delivery; (b) the crash story — a
    version dir written without the watermark commit (here corrupted,
    so only a genuine recompute can fix it) is rebuilt identically by
    the replay from the committed predecessor; (c) the final view
    equals the batch rollup over base ∪ all deltas."""
    import os

    from pyspark.sql import functions as F

    from steaminganalysis_spark.streaming.mv import (
        MV_SCHEMA,
        daily_rollup_mv,
        merge_mv_batch,
        read_mv,
    )
    from steaminganalysis_spark.streaming.sinks import KEY_PREFIX, KVStore

    schema = "event_id long, ts string, user_id long, event_type string, value double"

    def df(rows):
        return spark.createDataFrame(rows, schema).withColumn(
            "ts", F.col("ts").cast("timestamp")
        )

    base_rows = [(1, "2024-01-01 10:00:00", 1, "view", 1.00)]
    b0 = [(2, "2024-01-02 10:00:00", 1, "view", 2.25),
          (3, "2024-01-02 11:00:00", 2, "click", 0.75)]
    b1 = [(4, "2024-01-03 10:00:00", 1, "view", 4.00)]

    store = f"mv_crash_{os.getpid()}"
    tdir = str(tmp_path / "t")
    daily_rollup_mv(df(base_rows)).write.parquet(os.path.join(tdir, "base"))

    merge_mv_batch(df(b0), 0, tdir, store, "s")
    committed = sorted(map(tuple, read_mv(spark, tdir, store, "s").collect()))

    # (a) replay of committed batch 0 — including with DIFFERENT rows,
    # the adversarial double-delivery — is a no-op
    merge_mv_batch(df(b1), 0, tdir, store, "s")
    assert sorted(map(tuple, read_mv(spark, tdir, store, "s").collect())) == committed

    # (b) crash: orphan v1 written (corrupt) without the marker commit
    orphan = os.path.join(tdir, "v1")
    spark.createDataFrame([], MV_SCHEMA).write.mode("overwrite").parquet(orphan)
    assert KVStore.instance(store).last_applied(f"{KEY_PREFIX}mv-last-applied:s") == 0
    merge_mv_batch(df(b1), 1, tdir, store, "s")

    # (c) final view == batch rollup over everything
    expect = sorted(
        map(tuple, daily_rollup_mv(df(base_rows + b0 + b1)).collect())
    )
    assert sorted(map(tuple, read_mv(spark, tdir, store, "s").collect())) == expect
    KVStore.reset(store)


def test_mv_time_travel_reads_historical_version(spark, tmp_path):
    """MV version dirs are consistent historical snapshots: after two
    committed merges, version 0 still reads as the post-batch-0 view
    (base + delta0 only), and an uncommitted version id raises."""
    import os

    import pytest
    from pyspark.sql import functions as F

    from steaminganalysis_spark.streaming.mv import (
        daily_rollup_mv,
        merge_mv_batch,
        read_mv_at,
    )
    from steaminganalysis_spark.streaming.sinks import KVStore

    schema = "event_id long, ts string, user_id long, event_type string, value double"

    def df(rows):
        return spark.createDataFrame(rows, schema).withColumn(
            "ts", F.col("ts").cast("timestamp")
        )

    base = [(1, "2024-01-01 10:00:00", 1, "view", 1.00)]
    b0 = [(2, "2024-01-02 10:00:00", 1, "view", 2.25)]
    b1 = [(3, "2024-01-03 10:00:00", 2, "click", 4.00)]
    store = f"mv_tt_{os.getpid()}"
    tdir = str(tmp_path / "t")
    daily_rollup_mv(df(base)).write.parquet(os.path.join(tdir, "base"))
    merge_mv_batch(df(b0), 0, tdir, store, "s")
    merge_mv_batch(df(b1), 1, tdir, store, "s")

    v0 = sorted(map(tuple, read_mv_at(spark, tdir, store, "s", 0).collect()))
    assert v0 == sorted(map(tuple, daily_rollup_mv(df(base + b0)).collect()))
    v1 = sorted(map(tuple, read_mv_at(spark, tdir, store, "s", 1).collect()))
    assert v1 == sorted(map(tuple, daily_rollup_mv(df(base + b0 + b1)).collect()))
    with pytest.raises(FileNotFoundError):
        read_mv_at(spark, tdir, store, "s", 7)
    # a version dir above the watermark (a crash before the marker
    # advanced) is refused like an absent one
    daily_rollup_mv(df(b1)).write.parquet(os.path.join(tdir, "v9"))
    with pytest.raises(FileNotFoundError):
        read_mv_at(spark, tdir, store, "s", 9)
    KVStore.reset(store)


def test_stream_ann_index_stream_equals_batch(spark):
    """q_stream_ann_index's certificate (rows-only key): the index
    maintained incrementally — base build over the initial corpus half,
    two streamed micro-batches appended as delta runs under the FROZEN
    quantizer — assigns every vector to exactly the list the one-shot
    batch assignment against the same centroid model would. Stream ≡
    batch, the contract that makes continuous maintenance trustworthy."""
    from steaminganalysis_spark.operators.ann import (
        _assign,
        _centroids_df,
        _emb_double,
        train_ivf,
    )
    from steaminganalysis_spark.registry import collect_queries
    from tests.conftest import SF_DIR

    QUERIES, _ = collect_queries()
    got = {
        (r.vec_id, r.list_id)
        for r in QUERIES["q_stream_ann_index"](spark, SF_DIR).collect()
    }
    base = _emb_double(spark, SF_DIR)
    cents = train_ivf(spark, base.filter(F.col("vec_id") % 4 < 2))
    twin = {
        (r.vec_id, r.cid)
        for r in _assign(base, _centroids_df(spark, cents), keep=1)
        .select("vec_id", "cid")
        .collect()
    }
    assert len(got) == base.count()
    assert got == twin


def test_ivf_append_replay_idempotent(spark, tmp_path):
    """Crash-replay discipline of the streaming IVF sink: a replayed
    committed batch id is a no-op (delta run and watermark untouched),
    and committed_ivf_corpus exposes exactly base + committed runs —
    an uncommitted run directory (torn write) stays invisible."""
    import os

    from steaminganalysis_spark.operators.ann import (
        append_ivf_batch,
        build_ivf_index,
        committed_ivf_corpus,
    )

    rows = [(i, [float((i * 7 + j) % 13) for j in range(8)]) for i in range(40)]
    vecs = spark.createDataFrame(rows, "vec_id long, v array<double>").withColumn(
        "norm", F.sqrt(F.aggregate("v", F.lit(0.0), lambda a, x: a + x * x))
    )
    idx = str(tmp_path / "idx")
    build_ivf_index(spark, vecs.filter(F.col("vec_id") < 20), idx, k=4, iters=2)
    store = f"ann_replay_{os.getpid()}"
    batch = vecs.filter((F.col("vec_id") >= 20) & (F.col("vec_id") < 30))
    append_ivf_batch(batch, 0, idx, store, "s")
    before = sorted(
        (r.vec_id, r.list_id)
        for r in committed_ivf_corpus(spark, idx, store, "s").collect()
    )
    mtimes = {
        p: os.path.getmtime(os.path.join(idx, "delta-v0", p))
        for p in os.listdir(os.path.join(idx, "delta-v0"))
    }
    # replay the committed id with DIFFERENT data: must be a no-op
    append_ivf_batch(vecs.filter(F.col("vec_id") >= 30), 0, idx, store, "s")
    after = sorted(
        (r.vec_id, r.list_id)
        for r in committed_ivf_corpus(spark, idx, store, "s").collect()
    )
    assert after == before
    assert mtimes == {
        p: os.path.getmtime(os.path.join(idx, "delta-v0", p))
        for p in os.listdir(os.path.join(idx, "delta-v0"))
    }
    # a torn (never-committed) run directory is invisible to readers
    os.makedirs(os.path.join(idx, "delta-v7"))
    assert (
        sorted(
            (r.vec_id, r.list_id)
            for r in committed_ivf_corpus(spark, idx, store, "s").collect()
        )
        == before
    )
    KVStore.reset(store)


def test_ivf_compaction_preserves_corpus_and_drops_runs(spark, tmp_path):
    """LSM compaction for the streamed IVF index: folding committed
    delta runs into a new versioned base changes bytes, not truth —
    the committed corpus is the identical multiset before and after,
    superseded run dirs are gone, and maintenance continues (a batch
    appended AFTER compaction lands as a new run unioned with the
    compacted base). Re-compaction with nothing new to fold is a
    no-op."""
    import os

    from steaminganalysis_spark.operators.ann import (
        append_ivf_batch,
        build_ivf_index,
        committed_ivf_corpus,
        compact_ivf_index,
    )

    rows = [(i, [float((i * 5 + j) % 11) for j in range(8)]) for i in range(60)]
    vecs = spark.createDataFrame(rows, "vec_id long, v array<double>").withColumn(
        "norm", F.sqrt(F.aggregate("v", F.lit(0.0), lambda a, x: a + x * x))
    )
    idx = str(tmp_path / "idx")
    build_ivf_index(spark, vecs.filter(F.col("vec_id") < 20), idx, k=4, iters=2)
    store = f"ann_compact_{os.getpid()}"
    append_ivf_batch(vecs.filter((F.col("vec_id") >= 20) & (F.col("vec_id") < 40)), 0, idx, store, "s")
    append_ivf_batch(vecs.filter((F.col("vec_id") >= 40) & (F.col("vec_id") < 50)), 1, idx, store, "s")

    def corpus():
        return sorted(
            (r.vec_id, r.list_id)
            for r in committed_ivf_corpus(spark, idx, store, "s").collect()
        )

    before = corpus()
    compact_ivf_index(spark, idx, store, "s")
    assert corpus() == before
    assert os.path.isdir(os.path.join(idx, "corpus-v1"))
    assert not os.path.isdir(os.path.join(idx, "corpus"))
    assert not os.path.isdir(os.path.join(idx, "delta-v0"))
    assert not os.path.isdir(os.path.join(idx, "delta-v1"))
    # maintenance continues over the compacted base
    append_ivf_batch(vecs.filter(F.col("vec_id") >= 50), 2, idx, store, "s")
    assert len(corpus()) == 60
    # idempotent no-op when nothing new since... compact folds run 2
    compact_ivf_index(spark, idx, store, "s")
    after2 = corpus()
    assert len(after2) == 60
    compact_ivf_index(spark, idx, store, "s")  # nothing to fold — no-op
    assert corpus() == after2
    KVStore.reset(store)


def test_query_ivf_index_resolves_stream_maintained_corpus(spark, tmp_path):
    """Probing a STREAM-MAINTAINED index through query_ivf_index with
    (store_name, scope) resolves the committed corpus — base + delta
    runs before compaction, the versioned base after — and the answers
    are identical across that representation change (compaction moves
    bytes, not truth, all the way up to the query API)."""
    import os

    from steaminganalysis_spark.operators.ann import (
        append_ivf_batch,
        build_ivf_index,
        compact_ivf_index,
        query_ivf_index,
    )

    rows = [(i, [float((i * 3 + j) % 7) for j in range(8)]) for i in range(50)]
    vecs = spark.createDataFrame(rows, "vec_id long, v array<double>").withColumn(
        "norm", F.sqrt(F.aggregate("v", F.lit(0.0), lambda a, x: a + x * x))
    )
    idx = str(tmp_path / "idx")
    build_ivf_index(spark, vecs.filter(F.col("vec_id") < 25), idx, k=4, iters=2)
    store = f"ann_probe_{os.getpid()}"
    append_ivf_batch(vecs.filter(F.col("vec_id") >= 25), 0, idx, store, "s")
    qs = vecs.filter(F.col("vec_id") < 5)

    def probe():
        return sorted(
            map(
                tuple,
                query_ivf_index(
                    spark, idx, qs, topk=3, probes=2, store_name=store, scope="s"
                ).collect(),
            )
        )

    before = probe()
    assert before  # streamed vectors are searchable pre-compaction
    streamed_hit = any(t[1] >= 25 for t in before)
    compact_ivf_index(spark, idx, store, "s")
    assert probe() == before
    assert streamed_hit  # the maintained half actually participates
    KVStore.reset(store)


def test_decon_guard_replay_idempotent_and_torn_write_invisible(spark, tmp_path):
    """The streaming decon guard (streaming/decon.py): (a) a replayed
    committed batch id is a NO-OP — even with adversarially different
    rows, so at-least-once delivery never re-flags or un-flags a pair;
    (b) a flags dir written WITHOUT the watermark commit (a torn write
    from a crashed batch) is invisible to readers; (c) per-batch flags
    accumulate — committed batches union."""
    import os

    from steaminganalysis_spark.streaming.decon import (
        flag_batch,
        read_flags,
        _batch_dir,
    )
    from steaminganalysis_spark.streaming.sinks import KVStore

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    from steaminganalysis_spark.functions.text import shingle_hashes
    from steaminganalysis_spark.operators.extras import _is_eval
    from pyspark.sql import functions as F

    ev = (
        shingle_hashes(docs.filter(_is_eval("doc_id")), n=5)
        .select(F.col("doc_id").alias("eval_doc"), "h")
        .localCheckpoint(eager=True)
    )
    evsz = ev.groupBy("eval_doc").agg(F.count("*").alias("eval_ngrams"))
    train = docs.filter(~_is_eval("doc_id")).select("doc_id", "text")
    b0 = train.filter(F.col("doc_id") % 2 == 0)
    b1 = train.filter(F.col("doc_id") % 2 == 1)

    store = f"decon_crash_{os.getpid()}"
    out = str(tmp_path / "flags")
    try:
        flag_batch(b0, 0, ev, evsz, out, store, "s")
        after_b0 = sorted(
            map(tuple, read_flags(spark, out, store, "s").collect())
        )
        # (a) replay with DIFFERENT rows is a no-op
        flag_batch(b1, 0, ev, evsz, out, store, "s")
        assert (
            sorted(map(tuple, read_flags(spark, out, store, "s").collect()))
            == after_b0
        )
        # (b) a torn dir above the watermark is invisible
        b1.limit(0).write.mode("overwrite").parquet(_batch_dir(out, 7))
        assert (
            sorted(map(tuple, read_flags(spark, out, store, "s").collect()))
            == after_b0
        )
        # (c) committing batch 1 unions its flags in
        flag_batch(b1, 1, ev, evsz, out, store, "s")
        final = sorted(
            map(tuple, read_flags(spark, out, store, "s").collect())
        )
        assert set(after_b0) <= set(final) and len(final) >= len(after_b0)
    finally:
        KVStore.reset(store)


def test_weighted_reservoir_replay_torn_write_and_monoid(spark, tmp_path):
    """The streaming weighted reservoir (streaming/reservoir.py):
    (a) a replayed committed batch id is a NO-OP even with
    adversarially different rows; (b) a version dir written WITHOUT
    the watermark commit (torn write) is invisible to readers;
    (c) state is bounded — every committed version holds ≤ K rows;
    (d) the merge is a monoid — one-batch ingestion and two-batch
    ingestion of the same corpus commit IDENTICAL reservoirs (the
    stream≡batch property at the unit level, independent of the
    harness's batch boundaries)."""
    import os

    from pyspark.sql import functions as F

    from steaminganalysis_spark.operators.curation import SAMPLE_K
    from steaminganalysis_spark.streaming.reservoir import merge_batch, read_reservoir
    from steaminganalysis_spark.streaming.sinks import KVStore, version_dir

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "n_chars")
        .localCheckpoint(eager=True)
    )
    b0 = docs.filter(F.col("doc_id") % 2 == 0)
    b1 = docs.filter(F.col("doc_id") % 2 == 1)

    store = f"res_crash_{os.getpid()}"
    out = str(tmp_path / "versions")
    store2 = f"res_mono_{os.getpid()}"
    out2 = str(tmp_path / "versions_one")
    try:
        merge_batch(b0, 0, out, store, "s", SAMPLE_K)
        after_b0 = sorted(
            map(tuple, read_reservoir(spark, out, store, "s").collect())
        )
        assert 0 < len(after_b0) <= SAMPLE_K
        # (a) replay with different rows is a no-op
        merge_batch(b1, 0, out, store, "s", SAMPLE_K)
        got = sorted(map(tuple, read_reservoir(spark, out, store, "s").collect()))
        assert got == after_b0
        # (b) torn version dir above the watermark is invisible
        b1.limit(0).selectExpr(
            "doc_id", "n_chars", "CAST(0.0 AS DOUBLE) AS priority"
        ).write.mode("overwrite").parquet(version_dir(out, 7))
        got = sorted(map(tuple, read_reservoir(spark, out, store, "s").collect()))
        assert got == after_b0
        # (c)+(d) two-batch ingestion == one-batch ingestion
        merge_batch(b1, 1, out, store, "s", SAMPLE_K)
        two = sorted(map(tuple, read_reservoir(spark, out, store, "s").collect()))
        assert len(two) <= SAMPLE_K
        merge_batch(docs, 0, out2, store2, "s", SAMPLE_K)
        one = sorted(map(tuple, read_reservoir(spark, out2, store2, "s").collect()))
        assert two == one
    finally:
        KVStore.reset(store)
        KVStore.reset(store2)


def test_mv_backfill_restates_replays_and_excludes_torn_writes(spark, tmp_path):
    """merge_mv_backfill_batch (streaming/mv.py): (a) a backfill
    REPLACES the stored rows of every restated day — a row type absent
    from the correction disappears, present types take the corrected
    values rather than adding; (b) ordinary delta rows in the same
    stream still monoid-add; (c) a replayed committed batch id is a
    no-op even with different rows; (d) a version dir above the
    watermark is invisible."""
    import os

    from pyspark.sql import functions as F

    from steaminganalysis_spark.streaming.mv import (
        daily_rollup_mv,
        merge_mv_backfill_batch,
        read_mv,
    )
    from steaminganalysis_spark.streaming.sinks import KVStore, version_dir

    ev = (
        spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        .select("event_id", "ts", "user_id", "event_type", "value")
        .localCheckpoint(eager=True)
    )
    day = F.date_format("ts", "yyyy-MM-dd")
    minday = ev.agg(F.min(day).alias("d")).collect()[0]["d"]

    store = f"mvbf_{os.getpid()}"
    out = str(tmp_path / "table")
    try:
        daily_rollup_mv(ev).write.mode("overwrite").parquet(
            os.path.join(out, "base")
        )
        before = {
            (r.day, r.event_type): (r.n_events, r.total_cents)
            for r in read_mv(spark, out, store, "s").collect()
        }
        assert (minday, "error") in before, "no error row to restate away"

        restated = ev.filter(
            (day == minday) & (F.col("event_type") != "error")
        ).withColumn("backfill", F.lit(1))
        merge_mv_backfill_batch(restated, 0, out, store, "s")
        after = {
            (r.day, r.event_type): (r.n_events, r.total_cents)
            for r in read_mv(spark, out, store, "s").collect()
        }
        # (a) replacement: error row gone, other minday rows unchanged
        # (the correction carries identical values for surviving types
        # — restating must NOT double them), other days untouched
        assert (minday, "error") not in after
        expected = {k: v for k, v in before.items() if k != (minday, "error")}
        assert after == expected

        # (b) a delta row still adds
        one = ev.filter(day != minday).limit(1).withColumn("backfill", F.lit(0))
        key_row = one.collect()[0]
        k = (key_row.ts.strftime("%Y-%m-%d"), key_row.event_type)
        merge_mv_backfill_batch(one, 1, out, store, "s")
        after2 = {
            (r.day, r.event_type): (r.n_events, r.total_cents)
            for r in read_mv(spark, out, store, "s").collect()
        }
        assert after2[k][0] == after[k][0] + 1

        # (c) replay of a committed id with different rows is a no-op
        merge_mv_backfill_batch(
            ev.limit(5).withColumn("backfill", F.lit(0)), 1, out, store, "s"
        )
        assert {
            (r.day, r.event_type): (r.n_events, r.total_cents)
            for r in read_mv(spark, out, store, "s").collect()
        } == after2

        # (d) torn version above the watermark is invisible
        daily_rollup_mv(ev.limit(3)).write.mode("overwrite").parquet(
            version_dir(out, 9)
        )
        assert {
            (r.day, r.event_type): (r.n_events, r.total_cents)
            for r in read_mv(spark, out, store, "s").collect()
        } == after2
    finally:
        KVStore.reset(store)


def test_rate_source_deterministic_prefix_and_reinvocation(spark):
    """q_stream_rate_source's whole oracle-ability rests on the
    deterministic-prefix claim: the rate source emits value = 0..K-1
    exactly once each (no dupes, no gaps), regardless of trigger
    timing, partition count, or how long the stream ran before stop.
    Pin it by checking the bucket aggregate against the closed form,
    twice in one session (uuid sink names — no collisions)."""
    from steaminganalysis_spark.registry import collect_queries
    from steaminganalysis_spark.streaming.queries import RATE_SOURCE_ROWS

    QUERIES, _ = collect_queries()
    K = RATE_SOURCE_ROWS
    expect = {}
    for b in range(7):
        vals = range(b, K, 7)
        expect[b] = (len(vals), sum(vals), min(vals), max(vals))
    for _ in range(2):
        rows = QUERIES["q_stream_rate_source"](
            spark, "/root/testdata/sf0.001"
        ).collect()
        got = {r["bucket"]: (r["n"], r["total"], r["lo"], r["hi"]) for r in rows}
        assert got == expect


def test_snapshot_ingest_sink_replay_and_crash_windows(spark):
    """The snapshot-table streaming sink's exactly-once algebra, driven
    directly: (a) a replayed committed batch id is a strict no-op —
    manifest list unchanged, not one new data file; (b) a crash AFTER
    the file append but BEFORE the manifest commit strands orphan
    files the next read never sees, and the replay commits cleanly
    with the table content correct (no double rows)."""
    import json
    import os
    import uuid as _uuid

    from steaminganalysis_spark.operators.storage import (
        _snap_add_files,
        _snap_commit,
        _snap_read,
    )
    from steaminganalysis_spark.scratch import scratch_dir
    from steaminganalysis_spark.streaming.queries import snapshot_ingest_sink
    from steaminganalysis_spark.streaming.sinks import KEY_PREFIX, KVStore

    run = _uuid.uuid4().hex[:8]
    table = f"{scratch_dir('ingest_pin')}/t"
    base = spark.range(100).selectExpr("id", "id * 3 AS v")
    _snap_commit(table, _snap_add_files(base, table, "pin_base"), 0)
    store_name = f"ingest_pin_{run}"
    marker = f"{KEY_PREFIX}ingest-last-applied:{run}"
    sink = snapshot_ingest_sink(table, store_name, marker)

    b0 = spark.range(100, 150).selectExpr("id", "id * 3 AS v")
    sink(b0, 0)
    manifest = os.path.join(table, "manifests", "v1.json")
    committed = json.loads(open(manifest).read())["files"]
    n_data = len(os.listdir(os.path.join(table, "data")))
    # (a) replay: strict no-op
    sink(b0, 0)
    assert json.loads(open(manifest).read())["files"] == committed
    assert len(os.listdir(os.path.join(table, "data"))) == n_data
    assert _snap_read(spark, table).count() == 150

    # (b) crashed attempt: files appended, NO manifest, NO watermark
    b1 = spark.range(150, 170).selectExpr("id", "id * 3 AS v")
    _snap_add_files(b1, table, "pin_crash")  # the stranded half-write
    assert _snap_read(spark, table).count() == 150  # orphans invisible
    sink(b1, 1)  # the replay after the crash
    got = _snap_read(spark, table)
    assert got.count() == 170  # exactly once, despite the orphans
    assert got.select("id").distinct().count() == 170
    KVStore.reset(store_name)


def test_snapshot_ingest_sink_carries_manifest_keys(spark):
    """A streamed batch keeps the table's metadata: the ingest sink's
    successor manifest carries every key it does not restate, so an
    ANALYZE commit's ``ndv`` registers survive the next batch."""
    import uuid as _uuid

    from steaminganalysis_spark.operators.storage import (
        _snap_add_files,
        _snap_commit,
        _snap_doc,
        snap_analyze_ndv,
    )
    from steaminganalysis_spark.scratch import scratch_dir
    from steaminganalysis_spark.streaming.queries import snapshot_ingest_sink
    from steaminganalysis_spark.streaming.sinks import KEY_PREFIX, KVStore

    run = _uuid.uuid4().hex[:8]
    table = f"{scratch_dir('ingest_carry')}/t"
    mk = lambda lo, hi: spark.range(lo, hi).selectExpr(
        "id", "CAST(id % 4 AS STRING) AS grp"
    )
    _snap_commit(table, _snap_add_files(mk(0, 100), table, "carry_base"), 0)
    assert snap_analyze_ndv(spark, table, "grp", "id") == 1
    ndv = _snap_doc(table, 1)[1]["ndv"]
    store_name = f"ingest_carry_{run}"
    sink = snapshot_ingest_sink(
        table, store_name, f"{KEY_PREFIX}ingest-carry:{run}"
    )
    sink(mk(100, 120), 0)
    v, doc = _snap_doc(table)
    assert v == 2
    assert doc["ndv"] == ndv
    KVStore.reset(store_name)


def test_snapshot_sinks_commit_then_crash_replay(spark):
    """ADVICE r12 (exactly-once gap): a crash BETWEEN the manifest
    commit and the KVStore watermark advance must NOT make the replay
    re-append/re-merge on top of its own committed result. Both
    snapshot sinks carry a ``txn`` marker map in the manifest (the
    Delta txn appId/version pattern); the replay detects its own
    batch id there and only re-advances the watermark. Simulated
    faithfully: run the batch to completion, then roll the watermark
    back to the pre-advance value — exactly the state a crash in that
    window leaves behind."""
    import json
    import os
    import uuid as _uuid

    from steaminganalysis_spark.operators.storage import (
        _snap_add_files,
        _snap_commit,
        _snap_read,
        _snap_versions,
    )
    from steaminganalysis_spark.scratch import scratch_dir
    from steaminganalysis_spark.streaming.queries import (
        snapshot_cdc_merge_sink,
        snapshot_ingest_sink,
    )
    from steaminganalysis_spark.streaming.sinks import KEY_PREFIX, KVStore

    run = _uuid.uuid4().hex[:8]

    # --- ingest sink ---
    table = f"{scratch_dir('ingest_txn')}/t"
    _snap_commit(
        table,
        _snap_add_files(
            spark.range(100).selectExpr("id", "id * 3 AS v"), table, "txn_base"
        ),
        0,
    )
    store_name = f"ingest_txn_{run}"
    marker = f"{KEY_PREFIX}ingest-last-applied:{run}"
    sink = snapshot_ingest_sink(table, store_name, marker)
    store = KVStore.instance(store_name)
    sink(spark.range(100, 150).selectExpr("id", "id * 3 AS v"), 0)
    sink(spark.range(150, 170).selectExpr("id", "id * 3 AS v"), 1)
    assert store.last_applied(marker) == 1
    doc = json.loads(
        open(os.path.join(table, "manifests", "v2.json")).read()
    )
    assert doc["txn"][marker] == 1  # batch id rides the commit
    versions = sorted(_snap_versions(table))
    n_data = len(os.listdir(os.path.join(table, "data")))
    # crash window: commit landed, watermark did not
    store._r.set(marker, "0")
    sink(spark.range(150, 170).selectExpr("id", "id * 3 AS v"), 1)  # replay
    assert sorted(_snap_versions(table)) == versions  # no duplicate commit
    assert len(os.listdir(os.path.join(table, "data"))) == n_data
    assert store.last_applied(marker) == 1  # watermark re-advanced
    got = _snap_read(spark, table)
    assert got.count() == 170 and got.select("id").distinct().count() == 170
    KVStore.reset(store_name)

    # --- CDC merge sink ---
    table2 = f"{scratch_dir('cdc_txn')}/t"
    base = spark.range(100).selectExpr(
        "id AS event_id", "'view' AS event_type", "CAST(id AS DOUBLE) AS value"
    )
    _snap_commit(table2, _snap_add_files(base, table2, "cdc_txn_base"), 0)
    store2_name = f"cdc_txn_{run}"
    marker2 = f"{KEY_PREFIX}cdc-last-applied:{run}"
    csink = snapshot_cdc_merge_sink(table2, store2_name, marker2)
    store2 = KVStore.instance(store2_name)
    batch = spark.range(5).selectExpr(
        "'I' AS op",
        "id + 1000 AS event_id",
        "'click' AS event_type",
        "CAST(id AS DOUBLE) AS value",
    )
    csink(batch, 0)
    assert _snap_read(spark, table2).count() == 105
    versions2 = sorted(_snap_versions(table2))
    store2._r.set(marker2, "-1")
    csink(batch, 0)  # commit-then-crash replay
    assert sorted(_snap_versions(table2)) == versions2
    assert store2.last_applied(marker2) == 0
    got2 = _snap_read(spark, table2)
    assert got2.count() == 105  # no duplicate inserts
    assert got2.select("event_id").distinct().count() == 105
    KVStore.reset(store2_name)


def test_snapshot_ingest_sink_decoupled_from_batch_ids(spark):
    """ADVICE r11: the sink must resolve the previous snapshot via the
    latest-committed lookup, never v{batch_id} — pinned with both
    failure shapes the coupling had: (a) a target table with SEVERAL
    pre-existing committed snapshots (v0 and v1 before ingestion
    starts), and (b) batch ids that do NOT start at 0 (a resumed
    checkpoint against a fresh store). Each batch must land exactly
    once on top of whatever is latest."""
    import uuid as _uuid

    from steaminganalysis_spark.operators.storage import (
        _snap_add_files,
        _snap_commit,
        _snap_doc,
        _snap_read,
    )
    from steaminganalysis_spark.scratch import scratch_dir
    from steaminganalysis_spark.streaming.queries import snapshot_ingest_sink
    from steaminganalysis_spark.streaming.sinks import KEY_PREFIX, KVStore

    run = _uuid.uuid4().hex[:8]
    table = f"{scratch_dir('ingest_pin2')}/t"
    # (a) two committed snapshots BEFORE ingestion starts
    f0 = _snap_add_files(spark.range(10).selectExpr("id", "id AS v"), table, "p0")
    _snap_commit(table, f0, 0)
    f1 = _snap_add_files(
        spark.range(10, 30).selectExpr("id", "id AS v"), table, "p1"
    )
    _snap_commit(table, f0 + f1, 1)

    store_name = f"ingest_pin2_{run}"
    marker = f"{KEY_PREFIX}ingest-last-applied:{run}"
    sink = snapshot_ingest_sink(table, store_name, marker)
    # (b) batch ids resume at 7 (not 0)
    sink(spark.range(30, 45).selectExpr("id", "id AS v"), 7)
    v, _doc = _snap_doc(table)
    assert v == 2  # latest+1, NOT batch_id+1
    assert _snap_read(spark, table).count() == 45
    sink(spark.range(45, 50).selectExpr("id", "id AS v"), 8)
    v, _ = _snap_doc(table)
    assert v == 3
    assert _snap_read(spark, table).count() == 50
    # replay of the resumed id is still a strict no-op
    sink(spark.range(30, 45).selectExpr("id", "id AS v"), 7)
    v, _ = _snap_doc(table)
    assert v == 3
    assert _snap_read(spark, table).count() == 50
    KVStore.reset(store_name)


def test_cdc_merge_sink_replay_pruning_and_stats_carry(spark):
    """The CDC-merge sink's algebra, driven directly: (a) matched-file
    classification prunes by manifest stats — an update batch whose key
    range hits one file rewrites EXACTLY that file; (b) surviving
    files' stats carry forward through the commit, so a SECOND batch
    still prunes (the degradation mode: dropping stats makes every
    later merge a full rewrite); (c) a replayed committed batch id is
    a strict no-op; (d) a crash between the file write and the commit
    strands invisible orphans and the replay lands exactly once."""
    import json
    import os
    import uuid as _uuid

    from pyspark.sql import functions as F

    from steaminganalysis_spark.operators.storage import (
        _snap_add_files_with_stats,
        _snap_commit,
        _snap_doc,
        _snap_read,
    )
    from steaminganalysis_spark.scratch import scratch_dir
    from steaminganalysis_spark.streaming.queries import snapshot_cdc_merge_sink
    from steaminganalysis_spark.streaming.sinks import KEY_PREFIX, KVStore

    run = _uuid.uuid4().hex[:8]
    table = f"{scratch_dir('cdc_pin')}/t"
    base = spark.range(400).selectExpr(
        "id AS event_id", "'click' AS event_type",
        "CAST(id AS DOUBLE) AS value",
    )
    files, stats = _snap_add_files_with_stats(
        base.repartitionByRange(4, "event_id").sortWithinPartitions("event_id"),
        table,
        "pin_base",
        ["event_id"],
    )
    assert len(files) == 4 and len(stats) == 4
    _snap_commit(table, files, 0, stats=stats)

    store_name = f"cdc_pin_{run}"
    marker = f"{KEY_PREFIX}cdc-last-applied:{run}"
    sink = snapshot_cdc_merge_sink(table, store_name, marker)

    def batch(u_lo, u_hi, bump, ins_start, n_ins):
        # CAST, not `id * 1.0`: decimal precision would differ between
        # batch expressions, and a multi-file read's inferred schema is
        # file-order dependent (observed flake at the round-12 freeze)
        u = spark.range(u_lo, u_hi + 1).selectExpr(
            "id AS event_id", "'click' AS event_type",
            f"CAST(id AS DOUBLE) + {bump} AS value", "'U' AS op",
        )
        i = spark.range(ins_start, ins_start + n_ins).selectExpr(
            "id AS event_id", "'ins' AS event_type",
            "CAST(id AS DOUBLE) AS value", "'I' AS op",
        )
        return u.unionByName(i)

    # (a) batch 0 updates keys 0..49 — inside the FIRST file's span only
    sink(batch(0, 49, 1000.0, 10_000, 5), 0)
    v1, doc1 = _snap_doc(table)
    files1, stats1 = doc1["files"], doc1.get("stats", {})
    assert v1 == 1
    survivors = [f for f in files if f in files1]
    assert len(survivors) == 3, "exactly one span-matched file rewritten"
    # (b) stats carried forward for survivors + recorded for new files
    for f in survivors:
        assert stats1[f] == stats[f]
    assert all(f in stats1 for f in files1), "a committed file lost its stats"
    got = _snap_read(spark, table)
    assert got.count() == 405
    assert got.filter(F.col("event_id") == 25).first().value == 1025.0
    assert got.filter(F.col("event_id") == 350).first().value == 350.0

    # (c) replay: strict no-op
    n_data = len(os.listdir(os.path.join(table, "data")))
    sink(batch(0, 49, 1000.0, 10_000, 5), 0)
    v_r, doc_r = _snap_doc(table)
    assert (v_r, sorted(doc_r["files"])) == (v1, sorted(files1))
    assert len(os.listdir(os.path.join(table, "data"))) == n_data

    # (d) crash window: batch 1's files written, NO commit, NO watermark
    b1 = batch(300, 340, 500.0, 20_000, 3)
    _snap_add_files_with_stats(
        b1.filter("op = 'I'").drop("op"), table, "pin_crash", ["event_id"]
    )
    assert _snap_read(spark, table).count() == 405  # orphans invisible
    sink(b1, 1)  # replay after the crash
    v2, doc2 = _snap_doc(table)
    files2 = doc2["files"]
    assert v2 == 2
    got = _snap_read(spark, table)
    assert got.count() == 408  # 405 + 3 inserts, despite orphans
    assert got.filter(F.col("event_id") == 320).first().value == 820.0
    # second batch still pruned: the key-0..49 rewrite output and the
    # untouched middle files survived batch 1 by name
    assert sum(1 for f in files1 if f in files2) == len(files1) - 1
    KVStore.reset(store_name)


def test_snapshot_schema_sink_rejection_and_crash_replay(spark):
    """Schema-enforcing ingest sink pins, driven directly: (a) a
    batch with an undeclared column rejects at commit — orphan files
    only, no manifest, watermark unmoved; (b) a type-conflicting
    batch after an evolution rejects the same way; (c) the
    commit-then-crash replay (manifest txn map) re-advances the
    watermark without a duplicate commit — the ingest sink's algebra
    preserved under schema validation."""
    import uuid as _uuid

    from steaminganalysis_spark.operators.storage import (
        _snap_add_files,
        _snap_commit_schema,
        _snap_doc,
        _snap_read_schema,
        _snap_versions,
    )
    from steaminganalysis_spark.scratch import scratch_dir
    from steaminganalysis_spark.streaming.queries import (
        snapshot_ingest_schema_sink,
    )
    from steaminganalysis_spark.streaming.sinks import KEY_PREFIX, KVStore

    run = _uuid.uuid4().hex[:8]
    table = f"{scratch_dir('evosink')}/t"
    schema0 = [("id", "int64"), ("v", "double")]
    base = _snap_add_files(
        spark.range(50).selectExpr("id", "CAST(id AS DOUBLE) AS v"),
        table,
        "evs_base",
    )
    _snap_commit_schema(table, base, 0, schema0, new_files=base)
    store_name = f"evosink_{run}"
    marker = f"{KEY_PREFIX}evosink-last-applied:{run}"
    sink = snapshot_ingest_schema_sink(table, store_name, marker)
    store = KVStore.instance(store_name)

    # (a) undeclared column
    import pytest as _pytest

    rogue = spark.range(5).selectExpr(
        "id", "CAST(id AS DOUBLE) AS v", "'x' AS extra"
    )
    with _pytest.raises(ValueError, match="not in the table schema"):
        sink(rogue, 0)
    assert sorted(_snap_versions(table)) == [0]
    assert store.last_applied(marker) == -1

    # good batch 0 commits
    sink(spark.range(50, 80).selectExpr("id", "CAST(id AS DOUBLE) AS v"), 0)
    assert _snap_read_schema(spark, table).count() == 80

    # evolution adds `tag`, then (b) a conflicting double `tag`
    v, doc = _snap_doc(table)
    _snap_commit_schema(
        table, doc["files"], v + 1, schema0 + [("tag", "string")],
        new_files=[], txn=doc.get("txn", {}),
    )
    bad = spark.range(5).selectExpr(
        "id", "CAST(id AS DOUBLE) AS v", "CAST(1.5 AS DOUBLE) AS tag"
    )
    with _pytest.raises(ValueError, match="type-conflicts"):
        sink(bad, 1)
    # (c) commit-then-crash replay of batch 1
    sink(
        spark.range(80, 90).selectExpr(
            "id", "CAST(id AS DOUBLE) AS v", "'a' AS tag"
        ),
        1,
    )
    versions = sorted(_snap_versions(table))
    store._r.set(marker, "0")  # the crash window
    sink(
        spark.range(80, 90).selectExpr(
            "id", "CAST(id AS DOUBLE) AS v", "'a' AS tag"
        ),
        1,
    )
    assert sorted(_snap_versions(table)) == versions
    assert store.last_applied(marker) == 1
    got = _snap_read_schema(spark, table)
    assert got.count() == 90
    assert got.filter("tag IS NULL").count() == 80  # NULL-fill
    KVStore.reset(store_name)


def test_snapshot_partitioned_sink_replay_and_tuple_carry(spark):
    """Partition-aware ingest sink pins, driven directly: (a) each
    batch's commit CARRIES the previous tuple map (batch 1's manifest
    still resolves batch 0's days); (b) a replayed batch id is a
    strict no-op; (c) the commit-then-crash replay re-advances the
    watermark without a duplicate commit (txn map)."""
    import uuid as _uuid

    from steaminganalysis_spark.operators.storage import (
        _snap_add_files_partitioned,
        _snap_commit_partitioned,
        _snap_doc,
        _snap_versions,
        snap_read_partition_pruned,
    )
    from steaminganalysis_spark.scratch import scratch_dir
    from steaminganalysis_spark.streaming.queries import (
        snapshot_ingest_partitioned_sink,
    )
    from steaminganalysis_spark.streaming.sinks import KEY_PREFIX, KVStore

    run = _uuid.uuid4().hex[:8]
    table = f"{scratch_dir('pingest_pin')}/t"
    mk = lambda lo, hi: spark.range(lo, hi).selectExpr(
        "id", "CAST(id % 3 AS STRING) AS bucket"
    )
    files, parts = _snap_add_files_partitioned(
        mk(0, 60), table, "pp_base", ["bucket"]
    )
    _snap_commit_partitioned(table, files, 0, ["bucket"], parts)
    store_name = f"pingest_pin_{run}"
    marker = f"{KEY_PREFIX}pingest-last-applied:{run}"
    sink = snapshot_ingest_partitioned_sink(
        table, store_name, marker, ["bucket"]
    )
    store = KVStore.instance(store_name)

    sink(mk(60, 90), 0)
    sink(mk(90, 120), 1)
    _v, doc = _snap_doc(table)
    # (a) tuple carry: EVERY file in the latest manifest has a tuple
    assert set(doc["files"]) == set(doc["partitions"])
    got, planned, total = snap_read_partition_pruned(
        spark, table, "bucket", {"1"}
    )
    assert 0 < len(planned) < total
    assert got.count() == 40  # ids ≡ 1 (mod 3) in [0, 120)

    # (b) replay: strict no-op
    versions = sorted(_snap_versions(table))
    n_files = len(doc["files"])
    sink(mk(90, 120), 1)
    _v2, doc2 = _snap_doc(table)
    assert sorted(_snap_versions(table)) == versions
    assert len(doc2["files"]) == n_files

    # (c) commit-then-crash replay
    store._r.set(marker, "0")
    sink(mk(90, 120), 1)
    assert sorted(_snap_versions(table)) == versions
    assert store.last_applied(marker) == 1
    KVStore.reset(store_name)


def test_snapshot_schema_sink_never_overwrites_a_concurrent_commit(
    spark, monkeypatch
):
    """A rival append that commits v1 between the schema sink's
    manifest read and its publish keeps its files: the sink's commit
    raises FileExistsError instead of replacing v1, the watermark
    stays unmoved, and the rerun lands v2 holding both appends."""
    import uuid as _uuid

    import pytest as _pytest

    from steaminganalysis_spark.operators import storage
    from steaminganalysis_spark.operators.storage import (
        _snap_commit_schema,
        _snap_read_schema,
        _snap_versions,
        snap_append_optimistic,
    )
    from steaminganalysis_spark.scratch import scratch_dir
    from steaminganalysis_spark.streaming.queries import (
        snapshot_ingest_schema_sink,
    )
    from steaminganalysis_spark.streaming.sinks import KEY_PREFIX, KVStore

    run = _uuid.uuid4().hex[:8]
    table = f"{scratch_dir('evorace')}/t"
    mk = lambda lo, hi: spark.range(lo, hi).selectExpr(
        "id", "CAST(id AS DOUBLE) AS v"
    )
    stage = storage._snap_add_files
    base = stage(mk(0, 50), table, "evr_base")
    _snap_commit_schema(table, base, 0, [("id", "int64"), ("v", "double")])
    raced = []

    def stage_then_rival(df, tbl, tag):
        names = stage(df, tbl, tag)
        if not raced:  # the rival commits v1 after the sink's read
            rival = stage(mk(80, 90), tbl, "evr_rival")
            raced.append(snap_append_optimistic(tbl, rival))
        return names

    monkeypatch.setattr(storage, "_snap_add_files", stage_then_rival)
    store_name = f"evorace_{run}"
    marker = f"{KEY_PREFIX}evorace-last-applied:{run}"
    sink = snapshot_ingest_schema_sink(table, store_name, marker)
    store = KVStore.instance(store_name)

    with _pytest.raises(FileExistsError):
        sink(mk(50, 80), 0)
    assert raced == [1]
    assert store.last_applied(marker) == -1
    assert _snap_read_schema(spark, table).count() == 60  # base + rival
    sink(mk(50, 80), 0)
    assert sorted(_snap_versions(table)) == [0, 1, 2]
    assert store.last_applied(marker) == 0
    got = _snap_read_schema(spark, table)
    assert got.count() == 90
    assert got.select("id").distinct().count() == 90
    KVStore.reset(store_name)


def test_snapshot_partitioned_sink_never_overwrites_a_concurrent_commit(
    spark, monkeypatch
):
    """The partition-aware sink under the same race: a rival commit
    of v1 between its manifest read and its publish survives, the
    sink raises FileExistsError with its watermark unmoved, and the
    rerun lands v2 with every file's partition tuple."""
    import uuid as _uuid

    import pytest as _pytest

    from steaminganalysis_spark.operators import storage
    from steaminganalysis_spark.operators.storage import (
        _snap_commit_partitioned,
        _snap_doc,
        _snap_read,
        _snap_versions,
    )
    from steaminganalysis_spark.scratch import scratch_dir
    from steaminganalysis_spark.streaming.queries import (
        snapshot_ingest_partitioned_sink,
    )
    from steaminganalysis_spark.streaming.sinks import KEY_PREFIX, KVStore

    run = _uuid.uuid4().hex[:8]
    table = f"{scratch_dir('prace')}/t"
    mk = lambda lo, hi: spark.range(lo, hi).selectExpr(
        "id", "CAST(id % 3 AS STRING) AS bucket"
    )
    stage = storage._snap_add_files_partitioned
    files, parts = stage(mk(0, 60), table, "pr_base", ["bucket"])
    _snap_commit_partitioned(table, files, 0, ["bucket"], parts)
    raced = []

    def stage_then_rival(df, tbl, tag, spec):
        staged = stage(df, tbl, tag, spec)
        if not raced:  # the rival commits v1 after the sink's read
            rf, rp = stage(mk(90, 100), tbl, "pr_rival", spec)
            v, doc = _snap_doc(tbl)
            _snap_commit_partitioned(
                tbl, doc["files"] + rf, v + 1, spec, {**doc["partitions"], **rp}
            )
            raced.append(v + 1)
        return staged

    monkeypatch.setattr(storage, "_snap_add_files_partitioned", stage_then_rival)
    store_name = f"prace_{run}"
    marker = f"{KEY_PREFIX}prace-last-applied:{run}"
    sink = snapshot_ingest_partitioned_sink(table, store_name, marker, ["bucket"])
    store = KVStore.instance(store_name)

    with _pytest.raises(FileExistsError):
        sink(mk(60, 90), 0)
    assert raced == [1]
    assert store.last_applied(marker) == -1
    assert _snap_read(spark, table).count() == 70  # base + rival
    sink(mk(60, 90), 0)
    assert sorted(_snap_versions(table)) == [0, 1, 2]
    assert store.last_applied(marker) == 0
    _v, doc = _snap_doc(table)
    assert set(doc["files"]) == set(doc["partitions"])
    got = _snap_read(spark, table)
    assert got.count() == 100
    assert got.select("id").distinct().count() == 100
    KVStore.reset(store_name)


def test_cdc_dv_sink_fold_semantics(spark):
    """CDC-DV sink pins, driven directly: (a) a delete and an update
    of the SAME key in ONE batch — delete wins, the rewrite must not
    resurrect the row; (b) a later update rewriting a file FOLDS that
    file's existing DV in (the previously-deleted key stays gone and
    the rewritten file leaves the dv map); (c) scattered deletes
    rewrite ZERO data files; (d) replay is a strict no-op."""
    import os as _os
    import uuid as _uuid

    from steaminganalysis_spark.operators.storage import (
        _snap_add_files_with_stats,
        _snap_commit,
        _snap_doc,
        snap_read_mor,
    )
    from steaminganalysis_spark.scratch import scratch_dir
    from steaminganalysis_spark.streaming.queries import snapshot_cdc_dv_sink
    from steaminganalysis_spark.streaming.sinks import KEY_PREFIX, KVStore

    run = _uuid.uuid4().hex[:8]
    table = f"{scratch_dir('cdcdv_pin')}/t"
    base_df = spark.range(400).selectExpr(
        "id AS event_id", "'view' AS event_type", "CAST(id AS DOUBLE) AS value"
    )
    files, stats = _snap_add_files_with_stats(
        base_df.repartitionByRange(4, "event_id")
        .sortWithinPartitions("event_id"),
        table,
        "cp_base",
        ["event_id"],
    )
    _snap_commit(table, files, 0, stats=stats)
    store_name = f"cdcdv_pin_{run}"
    marker = f"{KEY_PREFIX}cdcdv-last-applied:{run}"
    sink = snapshot_cdc_dv_sink(table, store_name, marker)
    ddir = _os.path.join(table, "data")
    meta0 = {
        f: (_os.path.getsize(_os.path.join(ddir, f)),
            _os.path.getmtime(_os.path.join(ddir, f)))
        for f in files
    }

    # batch 0: update id 5 AND delete id 5 (same batch) + scattered
    # deletes far from the update span
    b0 = spark.createDataFrame(
        [
            ("U", 5, "view", 999.0),
            ("D", 5, "view", 0.0),
            ("D", 300, "view", 0.0),
            ("D", 350, "view", 0.0),
        ],
        "op string, event_id long, event_type string, value double",
    )
    sink(b0, 0)
    got = snap_read_mor(spark, table, "event_id")
    assert got.count() == 397
    assert got.filter("event_id IN (5, 300, 350)").count() == 0  # (a)
    # (c) the high files holding 300/350 were NOT rewritten
    _v, doc = _snap_doc(table)
    untouched_alive = [f for f in files if f in doc["files"]]
    for f in untouched_alive:
        assert (
            _os.path.getsize(_os.path.join(ddir, f)),
            _os.path.getmtime(_os.path.join(ddir, f)),
        ) == meta0[f]
    assert doc.get("dv"), "scattered deletes must be DV-shaped"

    # (b) batch 1 updates id 301 -> rewrites the file holding 300's
    # DV; the fold keeps 300 gone and drops the file from the dv map
    dv_targets_before = set(doc["dv"])
    b1 = spark.createDataFrame(
        [("U", 301, "view", 777.0)],
        "op string, event_id long, event_type string, value double",
    )
    sink(b1, 1)
    _v2, doc2 = _snap_doc(table)
    got2 = snap_read_mor(spark, table, "event_id")
    assert got2.count() == 397
    assert got2.filter("event_id = 300").count() == 0  # stayed deleted
    assert got2.filter("event_id = 301").first().value == 777.0
    rewritten_away = dv_targets_before - set(doc2["files"])
    assert rewritten_away, "the update should have rewritten a DV'd file"
    assert all(f not in doc2.get("dv", {}) for f in rewritten_away)

    # (d) replay
    import json as _json

    before = _json.dumps(doc2, sort_keys=True)
    sink(b1, 1)
    _v3, doc3 = _snap_doc(table)
    assert _json.dumps(doc3, sort_keys=True) == before
    KVStore.reset(store_name)


def test_table_cdf_consumer_crash_arms_and_group_lifecycle(spark):
    """q_stream_from_table_cdf pins, driving table_cdf_consumer_step
    directly: (1) the three arms fire in the right order across a
    commit-then-crash replay (applied -> skipped-txn -> skipped-
    watermark), with exactly one MV commit for the crashed version;
    (2) a group deleted to zero rows DROPS from the MV (never lingers
    at 0); (3) a group born in a later version appears. (2) and (3)
    hold for table_cdf_signed_step too, draining the same two-version
    source into a second MV."""
    from steaminganalysis_spark.operators.storage import (
        _snap_add_files,
        _snap_commit,
        _snap_read,
        _snap_versions,
    )
    from steaminganalysis_spark.registry import to_cents
    from steaminganalysis_spark.scratch import scratch_dir
    from steaminganalysis_spark.streaming.queries import (
        table_cdf_consumer_step,
        table_cdf_signed_step,
    )
    from steaminganalysis_spark.streaming.sinks import KEY_PREFIX, KVStore

    root = scratch_dir("cdfpin")
    src, mv, mv_sg = f"{root}/src", f"{root}/mv", f"{root}/mv_sg"
    v0 = spark.createDataFrame(
        [(1, "a", 1.0), (2, "a", 2.0), (3, "b", 3.0)],
        "event_id long, event_type string, value double",
    )
    _snap_commit(src, _snap_add_files(v0, src, "c0"), 0)
    # v1: b fully deleted, c born, a untouched
    v1 = spark.createDataFrame(
        [(1, "a", 1.0), (2, "a", 2.0), (9, "c", 9.0)],
        "event_id long, event_type string, value double",
    )
    _snap_commit(src, _snap_add_files(v1, src, "c1"), 1)

    marker = f"{KEY_PREFIX}cdfpin:x"
    store_name = "cdfpin_store"
    mv0 = v0.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_rows"),
        F.sum(to_cents(F.col("value"))).cast("long").alias("cents"),
    )
    for table in (mv, mv_sg):
        _snap_commit(table, _snap_add_files(mv0, table, "m0"), 0, txn={marker: 0})
    KVStore.instance(store_name).apply_batch(0, [], marker)
    KVStore.instance(f"{store_name}_sg").apply_batch(0, [], marker)

    arms = [
        table_cdf_consumer_step(
            spark, src, mv, 1, "event_id", store_name, marker,
            crash_before_watermark=True,
        ),
        table_cdf_consumer_step(
            spark, src, mv, 1, "event_id", store_name, marker
        ),
        table_cdf_consumer_step(
            spark, src, mv, 1, "event_id", store_name, marker
        ),
    ]
    assert arms == ["applied", "skipped-txn", "skipped-watermark"]
    assert sorted(_snap_versions(mv)) == [0, 1]  # exactly one v1 commit
    # the signed consumer drains v1's rewrite (v0's files removed,
    # v1's added): one batch, or two when the frames wrote more than
    # five files between them
    sg = [
        table_cdf_signed_step(spark, src, mv_sg, 5, f"{store_name}_sg", marker)
        for _ in range(4)
    ]
    n = [r["arm"] for r in sg].count("applied")
    assert n >= 1 and [r["arm"] for r in sg] == ["applied"] * n + ["idle"] * (4 - n)
    assert {s for r in sg for _f, s in r["consumed"]} == {-1, 1}
    for table in (mv, mv_sg):
        got = {
            r.event_type: (r.n_rows, r.cents)
            for r in _snap_read(spark, table).collect()
        }
        assert got == {"a": (2, 300), "c": (1, 900)}, (table, got)  # b dropped, c born
    KVStore.reset(store_name)
    KVStore.reset(f"{store_name}_sg")


def test_ingest_sink_commutes_with_concurrent_compaction(spark):
    """r13 hardening pin: an OPTIMIZE (compaction) commit landing
    INSIDE the ingest sink's stage->commit window must COMMUTE — the
    sink's CAS retry re-reads the compacted file list and lands the
    batch on top; both the compaction and the batch survive, and
    nothing is clobbered (the plain os.replace commit the sink used
    before r13 would silently lose one side)."""
    from steaminganalysis_spark.operators.storage import (
        _snap_add_files,
        _snap_commit,
        _snap_doc,
        _snap_read,
        snap_compact_optimistic,
    )
    from steaminganalysis_spark.scratch import scratch_dir
    from steaminganalysis_spark.streaming.queries import snapshot_ingest_sink
    from steaminganalysis_spark.streaming.sinks import KEY_PREFIX, KVStore

    table = f"{scratch_dir('ingrace')}/t"
    base = spark.createDataFrame(
        [(i, "a", float(i)) for i in range(100)],
        "event_id long, event_type string, value double",
    )
    f0 = _snap_add_files(base.repartition(4), table, "ig0")
    _snap_commit(table, f0, 0)

    store_name = "ingrace_store"
    marker = f"{KEY_PREFIX}ingrace:x"

    import steaminganalysis_spark.operators.storage as st

    real_stage = st._snap_add_files
    fired = []

    def stage_then_compact(df, tbl, tag, *a, **kw):
        out = real_stage(df, tbl, tag, *a, **kw)
        if tag.startswith("ingest_b") and not fired:
            fired.append(True)
            # maintenance rewrites the 4 base files into 1 mid-window
            staged = real_stage(
                _snap_read(spark, table, 0).coalesce(1), table, "igc"
            )
            snap_compact_optimistic(table, f0, staged)
        return out

    # patch BEFORE building the sink: the factory imports
    # _snap_add_files into its closure when called
    st._snap_add_files = stage_then_compact
    try:
        sink = snapshot_ingest_sink(table, store_name, marker)
        batch = spark.createDataFrame(
            [(1000, "b", 7.0), (1001, "b", 8.0)],
            "event_id long, event_type string, value double",
        )
        sink(batch, 0)
    finally:
        st._snap_add_files = real_stage
    assert fired

    v, doc = _snap_doc(table)
    assert v == 2  # compaction v1 + batch v2 — nothing clobbered
    got = _snap_read(spark, table)
    assert got.count() == 102  # both the compacted base and the batch
    assert got.filter("event_type = 'b'").count() == 2
    assert not (set(f0) & set(doc["files"]))  # compaction survived
    assert int(doc["txn"][marker]) == 0  # the batch marker rode the CAS
    KVStore.reset(store_name)


def test_replicate_out_of_order_version_is_noop(spark):
    """q_stream_table_replicate pin: feeding an OLDER source version
    to the replica sink after a newer one already applied is a no-op
    (the monotonic batch-id guard), never a partial re-apply — the
    consumer loop owns ordering, the sink owns idempotence."""
    import json

    from steaminganalysis_spark.operators.storage import (
        _snap_add_files_with_stats,
        _snap_commit,
        _snap_doc,
    )
    from steaminganalysis_spark.scratch import scratch_dir
    from steaminganalysis_spark.streaming.queries import snapshot_cdc_dv_sink
    from steaminganalysis_spark.streaming.sinks import KEY_PREFIX, KVStore

    rep = f"{scratch_dir('reppin')}/t"
    base = spark.createDataFrame(
        [(i, "a", float(i)) for i in range(50)],
        "event_id long, event_type string, value double",
    )
    f, s = _snap_add_files_with_stats(
        base.coalesce(2), rep, "rp", ["event_id"]
    )
    _snap_commit(rep, f, 0, stats=s)
    store_name = "reppin_store"
    marker = f"{KEY_PREFIX}reppin:x"
    sink = snapshot_cdc_dv_sink(rep, store_name, marker)

    b2 = spark.createDataFrame(
        [("I", 100, "b", 1.0)], "op string, event_id long, event_type string, value double"
    )
    sink(b2, 2)  # newer version applies
    _, doc = _snap_doc(rep)
    before = json.dumps(doc, sort_keys=True)
    b1 = spark.createDataFrame(
        [("D", 3, "a", 0.0)], "op string, event_id long, event_type string, value double"
    )
    sink(b1, 1)  # stale version: must be a no-op
    _, doc2 = _snap_doc(rep)
    assert json.dumps(doc2, sort_keys=True) == before
    KVStore.reset(store_name)


def test_cdf_step_restart_with_larger_max_files_clamps_at_marker(spark):
    """r17 fix (r16 ADVICE, low): a crash-before-watermark followed by
    a RESTART WITH A LARGER max_files leaves the MV's txn marker
    strictly between offset and offset+max_files. The consumer must
    clamp its slice at the marker (skipped-txn catch-up first), never
    re-apply entries [offset, marker) the MV already absorbed — an
    unclamped slice double-counts the additive MV. Pinned on
    table_cdf_signed_step, the one bounded consumer, over an
    append-only source: its log has +1 entries only, the backfill
    shape q_stream_from_table_cdf_ratelimited drains."""
    from steaminganalysis_spark.operators.storage import (
        _snap_add_files,
        _snap_commit,
        _snap_doc,
        _snap_read,
    )
    from steaminganalysis_spark.registry import to_cents
    from steaminganalysis_spark.scratch import scratch_dir
    from steaminganalysis_spark.streaming.queries import table_cdf_signed_step as step
    from steaminganalysis_spark.streaming.sinks import KEY_PREFIX, KVStore

    tag = "clampsg"
    root = scratch_dir(tag)
    src, mv = f"{root}/src", f"{root}/mv"
    v0 = spark.createDataFrame(
        [(1, "a", 1.0)], "event_id long, event_type string, value double"
    )
    _snap_commit(src, _snap_add_files(v0, src, "c0"), 0)
    # three append commits -> a 3-entry (+1) log past the MV base
    rows = [(2, "a", 2.0), (3, "b", 3.0), (4, "b", 4.0)]
    for i, row in enumerate(rows):
        inc = spark.createDataFrame(
            [row], "event_id long, event_type string, value double"
        ).coalesce(1)  # exactly ONE file per commit -> a 3-entry log
        v, doc = _snap_doc(src)
        _snap_commit(
            src, doc["files"] + _snap_add_files(inc, src, f"c{i+1}"), v + 1
        )

    marker = f"{KEY_PREFIX}{tag}:x"
    store_name = f"{tag}_store"
    mv0 = v0.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_rows"),
        F.sum(to_cents(F.col("value"))).cast("long").alias("cents"),
    )
    _snap_commit(mv, _snap_add_files(mv0, mv, "m0"), 0, txn={marker: 0})
    KVStore.instance(store_name).apply_batch(0, [], marker)

    # crash: MV commits marker=1, watermark stays 0
    r = step(
        spark, src, mv, 1, store_name, marker, crash_before_watermark=True
    )
    assert r["arm"] == "applied" and r["offset"] == 1
    # restart with LARGER max_files: must clamp at the marker and
    # catch the store up WITHOUT re-applying entry 0
    r2 = step(spark, src, mv, 3, store_name, marker)
    assert r2["arm"] == "skipped-txn" and r2["offset"] == 1
    # drain the rest; MV must equal the full aggregate exactly once
    r3 = step(spark, src, mv, 3, store_name, marker)
    assert r3["arm"] == "applied" and r3["offset"] == 3
    got = {
        r.event_type: (r.n_rows, r.cents)
        for r in _snap_read(spark, mv).collect()
    }
    assert got == {"a": (2, 300), "b": (2, 700)}, (tag, got)
    KVStore.reset(store_name)
