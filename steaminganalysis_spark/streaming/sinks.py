"""Key-value (Redis-style) streaming sink with exactly-once effect.

The reference accumulates per-day totals in Redis hashes via HINCRBY
(StreamingAnalysisAppWithKafkaManageOffset.scala:72-74) and commits Kafka offsets only afterwards
(StreamingAnalysisAppWithKafkaManageOffset.scala:79) — so a crash between write and commit replays the
batch and double-counts (SURVEY.md §4.3). This sink keeps the reference
semantics — per-batch delta aggregation + incremental HINCRBY,
accumulate-forever late data, no watermark, zero Spark state — but adds
an atomic per-batch commit: each batch's increments and a last-applied
batch-id watermark are applied in ONE atomic step (a single Lua EVAL),
turning at-least-once delivery into an exactly-once effect without the
guard-first crash window.

Rejected records (a null ``day`` from ``classify_orders``) are counted,
not dropped and not raised on: their count goes to the ``total`` field
of ``sa-spark-rejected-records`` in the same atomic step as the day
totals, so input rows = Σ day ``total`` + rejected, exactly once. The
key is written only by a batch that has rejects, and its suffix is
longer than any ``substring(time, 1, 10)`` day, so it never collides
with one.

Backend: every store is a `RedisKVStore` running one Lua script per
batch. A ``redis://`` store name talks to that server; any other name
is an in-process mini-Redis keyspace driven without a socket
(``backends/miniredis.py``), with the same commands, the same script
and Redis's integer rules. The Spark-side shape is the production
one: ``foreachBatch`` → per-batch aggregate (map-side partial + final,
so the KV store sees one row per day, tiny at any input scale) → one
columnar collect of that delta (``toArrow``, one Spark job) → one
EVAL with one client per process, never per row (cf. the reference's
leaked per-call JedisPool, CommonUtil.scala:44-48). ``apply_batch``
takes ``(key, field, delta)`` triples; on the wire they travel as one
compact JSON array of strings in ``ARGV[2]`` (the batch id is
``ARGV[1]``), which the script reads with ``cjson.decode`` (built into
Redis's Lua, and into the mini-Redis). The increments go out sorted by
day, with the rejected group last, so a batch sends the same bytes
however Spark partitions it, and a replayed batch sends the same bytes
again.

The skip / run / advance-marker protocol is `exactly_once`, the one
place it is written: this sink, the version-store and file sinks
(``scd2``, ``mv``, ``reservoir``, ``decon``, ``neardup``,
``operators/ann.py``) and the snapshot-table sinks in ``queries`` all
run their foreachBatch bodies through it, and `exactly_once_sink`
attaches a body to a stream with its checkpoint's scope.
"""

from __future__ import annotations

import json
import os
import threading
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from steaminganalysis_spark.backends.miniredis import LocalMiniRedisClient, MiniRedisClient

__all__ = [
    "KVStore",
    "RedisKVStore",
    "KEY_PREFIX",
    "REJECTED_KEY",
    "apply_day_rollup_batch",
    "day_rollup_sink",
    "exactly_once",
    "exactly_once_sink",
]

try:  # pragma: no cover - redis is absent in this environment
    import redis  # type: ignore  # noqa: F401

    HAVE_REDIS = True
except ImportError:
    HAVE_REDIS = False


# Redis runs scripts atomically, so the last-applied check, all
# HINCRBYs, and the marker advance commit together (the
# MULTI/EXEC-equivalent the contract requires). This script is the only
# body of ``apply_batch``, for every store. ARGV is the batch id and one
# JSON array of key, field, delta strings.
_APPLY_BATCH_LUA = """
local last = tonumber(redis.call('GET', KEYS[1]) or '-1')
local bid = tonumber(ARGV[1])
if bid <= last then return 0 end
local inc = cjson.decode(ARGV[2])
for i = 1, #inc, 3 do
  redis.call('HINCRBY', inc[i], inc[i + 1], inc[i + 2])
end
redis.call('SET', KEYS[1], ARGV[1])
return 1
"""


class RedisKVStore:
    """The KV store contract (hgetall / keys / last_applied /
    apply_batch) over a ``redis.Redis``-API client.
    Prefers the real redis-py client when the package is present;
    otherwise falls back to the in-repo RESP2 socket client
    (`steaminganalysis_spark.backends.miniredis.MiniRedisClient`), so
    the full client→wire→server→Lua path still executes in sandboxes
    with no installable redis (VERDICT r4 order #3). Both clients speak
    the same protocol; the sink code is identical either way.

    ``apply_batch`` is a single EVAL, making the exactly-once guard
    genuinely atomic server-side (crash-safe, unlike guard-then-write).
    """

    def __init__(self, url: str = "redis://localhost:6379/0") -> None:
        if HAVE_REDIS:
            self._r = redis.Redis.from_url(url, decode_responses=True)
        else:
            self._r = MiniRedisClient.from_url(url, decode_responses=True)
        self._apply = self._r.register_script(_APPLY_BATCH_LUA)

    def hgetall(self, key: str) -> dict[str, int]:
        return {f: int(v) for f, v in self._r.hgetall(key).items()}

    def keys(self) -> list[str]:
        # SCAN (cursor-based, non-blocking) with a server-side TYPE
        # filter — never KEYS *, which blocks a production keyspace.
        # SCAN is at-least-once under concurrent writes: dedupe, or a
        # twice-returned key double-counts in any caller that sums.
        # COUNT 1000 pages a 3 652-day keyspace in 4 round trips on a real
        # Redis, not 366 (the mini-Redis answers any SCAN in one).
        return list(dict.fromkeys(self._r.scan_iter(match="*", count=1000, _type="hash")))

    def last_applied(self, marker_key: str) -> int:
        """Last committed batch id at ``marker_key`` (-1 if none)."""
        return int(self._r.get(marker_key) or "-1")

    def apply_batch(
        self,
        batch_id: int,
        increments: list[tuple[str, str, int]],
        marker_key: str,
    ) -> bool:
        """Atomically apply a micro-batch's increments exactly once.

        In one EVAL: read the last-applied batch id at ``marker_key``,
        skip if ``batch_id`` <= it (foreachBatch ids are monotonically
        increasing per checkpoint, so one watermark key replaces
        unbounded per-batch guard keys), else apply every
        (hash_key, field, delta) increment AND advance the marker
        together. A replay after a crash therefore sees either none of
        the batch's effects (marker unmoved → re-applies) or all of
        them (marker moved → skips). Returns True iff the batch was
        applied.

        The triples are the contract; the wire is ``EVALSHA <sha> 1
        <marker> <batch id> <payload>``, the payload one compact JSON
        array of the flattened triples with each delta as decimal text
        (text, so a delta past 2^53 survives ``cjson``'s doubles). The
        array keeps the triples' order, so the same increments send the
        same bytes on a replay."""
        flat = [x for key, field, delta in increments for x in (key, field, str(int(delta)))]
        payload = json.dumps(flat, separators=(",", ":"))
        return bool(self._apply(keys=[marker_key], args=[str(int(batch_id)), payload]))


class KVStore(RedisKVStore):
    """The store registry, and the in-process store: a `RedisKVStore`
    over a fresh socketless mini-Redis keyspace
    (`steaminganalysis_spark.backends.miniredis.LocalMiniRedisClient`),
    so in-process and Redis deployments run the same Lua apply and the
    same Redis integer and type rules."""

    _instances: dict[str, RedisKVStore] = {}
    _lock = threading.Lock()

    def __init__(self) -> None:
        self._r = LocalMiniRedisClient()
        self._apply = self._r.register_script(_APPLY_BATCH_LUA)

    @classmethod
    def instance(cls, name: str = "default") -> RedisKVStore:
        """Resolve a store by name. Names starting with ``redis://``
        (or ``rediss://``) construct and cache a `RedisKVStore` for
        that URL — the production wiring selects Redis purely by store
        name, so `day_rollup_sink(..., store_name="redis://host:6379/0")`
        is the only change between the in-process and Redis deployments.
        Any other name caches an in-process store."""
        with cls._lock:
            if name not in cls._instances:
                if name.startswith(("redis://", "rediss://")):
                    cls._instances[name] = RedisKVStore(name)
                else:
                    cls._instances[name] = cls()
            return cls._instances[name]

    @classmethod
    def reset(cls, name: str) -> None:
        with cls._lock:
            cls._instances.pop(name, None)


KEY_PREFIX = "sa-spark-"  # reference used "n-ko-" / "zk-ko-" (KafkaApp:72, ZkApp:105)
REJECTED_KEY = KEY_PREFIX + "rejected-records"


def checkpoint_scope(checkpoint_dir: str) -> str:
    """Canonical idempotence scope for a checkpoint location: strip any
    file: scheme, resolve to an absolute path, drop trailing slashes,
    THEN hash — so '/ckpt', '/ckpt/' and 'file:///ckpt' (which Spark
    resolves to the same checkpoint) share one watermark. A different
    spelling producing a different scope would replay the last
    committed batch against a fresh watermark and double-count.
    (Stores written before scoping existed used the single key
    'sa-spark-last-applied-batch'; redeploying over one accepts a
    one-batch replay — acceptable because that marker guarded a weaker
    contract to begin with.)"""
    import hashlib

    p = checkpoint_dir
    for scheme in ("file://", "file:"):
        if p.startswith(scheme):
            p = p[len(scheme):]
            break
    p = os.path.abspath(p).rstrip("/") or "/"
    return hashlib.md5(p.encode()).hexdigest()[:12]


def exactly_once(
    store_name: str,
    marker: str,
    batch_id: int,
    body: Callable[[], list[tuple[str, str, int]] | None],
) -> bool:
    """The exactly-once protocol of every foreachBatch body: skip a
    batch id at or below the last-applied id at ``marker`` without
    running ``body``; otherwise run ``body`` and commit the increments
    it returns (None for none — a body that writes files sends none)
    together with the new marker in ONE ``store.apply_batch``.

    foreachBatch ids are monotonic per checkpoint and Spark re-runs
    the last uncommitted batch with the same id, so one watermark key
    replaces a per-batch guard key. A body that raises leaves the
    marker and the keyspace unmoved and the retry runs it again; a
    body whose files land before a crash is rewritten identically by
    the replay (each body is a pure function of its committed input
    and the batch). The check inside ``apply_batch``'s script is the
    authoritative one; the ``last_applied`` read up front spares a
    replayed batch its Spark work. Returns True iff the batch
    applied."""
    store = KVStore.instance(store_name)
    if batch_id <= store.last_applied(marker):
        return False
    return store.apply_batch(batch_id, body() or [], marker)


def exactly_once_sink(
    stream: DataFrame,
    checkpoint_dir: str,
    body: Callable[[DataFrame, int, str], None],
):
    """Attach ``body(batch_df, batch_id, scope)`` to ``stream`` as its
    foreachBatch, checkpointed at ``checkpoint_dir``; returns
    ``(writer, scope)``. ``scope`` is `checkpoint_scope` of that dir:
    batch ids are monotonic per checkpoint, so a body's marker is
    scoped per checkpoint too, and streams sharing one store never
    drop each other's batches."""
    scope = checkpoint_scope(checkpoint_dir)
    writer = (
        stream.writeStream.outputMode("append")
        .foreachBatch(lambda df, bid: body(df, bid, scope))
        .option("checkpointLocation", checkpoint_dir)
    )
    return writer, scope


def version_dir(table_dir: str, batch_id: int) -> str:
    """Directory of the self-contained table version batch
    ``batch_id`` writes before its marker advances."""
    return os.path.join(table_dir, f"v{batch_id}")


def read_version(
    spark: SparkSession,
    table_dir: str,
    store_name: str,
    marker: str,
    batch_id: int,
    schema: str,
) -> DataFrame:
    """TIME TRAVEL: a version store as of an earlier committed batch.
    Every merge writes a full self-contained version directory before
    advancing its marker, so any version at or below the marker is a
    consistent snapshot (``VERSION AS OF``; a retention sweep would
    prune old ``v<k>`` dirs on a real deployment). A version above the
    last-applied id at ``marker`` in ``store_name`` — one a crash left
    written but never committed — is refused like an absent one: an
    error, not an empty frame."""
    d = version_dir(table_dir, batch_id)
    if batch_id > KVStore.instance(store_name).last_applied(marker) or not os.path.isdir(d):
        raise FileNotFoundError(f"no committed version {batch_id} at {table_dir}")
    return spark.read.schema(schema).parquet(d)


def apply_day_rollup_batch(
    batch_df: DataFrame,
    batch_id: int,
    agg_fn: Callable[[DataFrame], DataFrame],
    store_name: str = "default",
    scope: str = "default",
) -> None:
    """foreachBatch body: aggregate THIS micro-batch's raw events to a
    per-day delta (stateless — state lives in the KV store, exactly the
    reference's model) and apply it through `exactly_once`.

    ``scope`` namespaces the last-applied watermark. foreachBatch batch
    ids are monotonic PER CHECKPOINT, so the watermark must be scoped
    per checkpoint too: with a store-global key, a second stream sharing
    the same store would silently drop every batch id at-or-below the
    other stream's watermark. `day_rollup_sink` derives the scope from
    its checkpoint dir's path. That does NOT cover a checkpoint deleted
    and recreated at the same path: it restarts at batch 0 against the
    old watermark, and its batches are skipped unreported until their
    ids pass it (open gap, ROADMAP item 3).

    Exactly-once: the delta is computed FIRST (one row per day —
    O(days), independent of batch volume), then every increment and the
    last-applied-batch watermark commit atomically in one
    ``store.apply_batch`` call (one Lua EVAL, in process and on
    Redis alike). The delta is collected columnar, with one
    ``toArrow()`` (one Spark job, where ``toLocalIterator()`` ran one
    per partition and built a ``Row`` per day), and its increments are
    built sorted by day: the partitioning of the micro-batch then
    cannot change the order, so a replay sends the same bytes.
    A replay either re-applies a batch that never committed or is
    skipped whole — a crash can no longer strand the guard set with
    the increments half-applied (the at-most-once hazard of
    guard-first designs). A replay whose EVAL committed but whose
    Spark commit did not skips the whole Spark aggregation job. The
    delta's null-``day`` group (rejected records) is one more
    increment, ``REJECTED_KEY``'s ``total``, last, in the same atomic
    apply.
    """

    def increments() -> list[tuple[str, str, int]]:
        delta = agg_fn(batch_df).toArrow().sort_by("day")  # null day sorts last
        out: list[tuple[str, str, int]] = []
        for day, total, success, fee_cents in zip(
            *(delta.column(c).to_pylist() for c in ("day", "total", "success", "fee_cents"))
        ):
            if day is None:  # the rejected records' group
                out.append((REJECTED_KEY, "total", total))
                continue
            key = KEY_PREFIX + day
            out += [
                (key, "total", total),
                (key, "success", success),
                (key, "fee_cents", fee_cents),
            ]
        return out

    exactly_once(store_name, f"{KEY_PREFIX}last-applied-batch:{scope}", batch_id, increments)


def day_rollup_sink(
    raw_stream: DataFrame,
    checkpoint_dir: str,
    agg_fn: Callable[[DataFrame], DataFrame],
    store_name: str = "default",
):
    """Attach the KV sink to a raw order-event stream; checkpointLocation
    replaces both reference offset managers (StreamingAnalysisAppWithKafkaManageOffset.scala:79
    commitAsync, ZkApp.scala:114-116 ZK znodes). The idempotence
    watermark is scoped to this checkpoint (batch ids are monotonic per
    checkpoint), so streams sharing one store never collide."""
    writer, _ = exactly_once_sink(
        raw_stream,
        checkpoint_dir,
        lambda df, bid, scope: apply_day_rollup_batch(
            df, bid, agg_fn, store_name=store_name, scope=scope
        ),
    )
    return writer
