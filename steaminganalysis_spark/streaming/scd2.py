"""Streaming SCD Type-2 dimension maintenance (round 4).

``q_scd2_from_cdc`` (operators/extras.py) builds the warehouse history
table from the FULL change log in one batch pass. Production dimension
pipelines don't get that luxury: changes arrive continuously and the
history table must be maintained incrementally — the lakehouse
``MERGE``-per-micro-batch shape. This module is that operator:
``foreachBatch`` merges each micro-batch of change events into a
persistent change table using the *recompute-affected-keys* pattern,
and the registered key ``q_stream_cdc_scd2`` replays the events
fixture through it in time-ordered micro-batches, then derives the
validity intervals from the final table state. The oracle is the SAME
SQL as the batch operator — streamed maintenance must converge to the
batch answer, whatever the batch boundaries.

Scale shape (100 TB contract):

- Each merge touches only the AFFECTED keys: the batch's distinct
  user set joins back to the standing table to fetch one seed row per
  user (its latest change), so per-batch work is O(batch) +
  O(affected-users), never O(history). The seed fetch is an equi-join
  on user_id; the window that collapses consecutive-equal statuses
  partitions by user_id — one hash partitioning shared by both.
- The standing table is rewritten as a NEW VERSION per batch (append
  of the delta in practice; full-version parquet dirs here to keep the
  sandbox filesystem-atomic). On a lakehouse table format this is the
  transactional MERGE / partition-overwrite; the versioning below is
  the same MVCC idea with the commit marker as the transaction log.
- Exactly-once: the merge runs through ``sinks.exactly_once``, the
  protocol every foreachBatch body shares — the version directory is
  written FIRST, then the batch-id watermark commits in one
  ``apply_batch``; a crash between the two replays the batch, which
  rewrites the identical version directory (the merge is a pure
  function of (previous version, batch)), so replays are idempotent
  by construction rather than by guard-first luck.
- In-order contract: the stream must deliver a user's changes in
  (ts, event_id) order across batches (the registered replay splits on
  ts boundaries, so this holds). Out-of-order arrivals would need the
  full bi-temporal merge — rewrite intervals that straddle the late
  event — which is the documented upgrade path, not silently-wrong
  behavior: the merge only ever APPENDS changes, so a late event could
  only be mis-ordered against the seed, never corrupt closed history.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from steaminganalysis_spark.streaming.sinks import (
    KEY_PREFIX,
    KVStore,
    exactly_once,
    read_version,
    version_dir,
)

CHANGES_SCHEMA = "user_id long, status string, ts timestamp, event_id long"


def _marker(scope: str) -> str:
    return f"{KEY_PREFIX}scd2-last-applied:{scope}"


def read_changes(
    spark: SparkSession, table_dir: str, store_name: str, scope: str
) -> DataFrame:
    """The committed state of the change table: the version directory
    named by the last-applied watermark (empty frame before any
    commit)."""
    cur = KVStore.instance(store_name).last_applied(_marker(scope))
    if cur < 0:
        return spark.createDataFrame([], CHANGES_SCHEMA)
    return spark.read.schema(CHANGES_SCHEMA).parquet(version_dir(table_dir, cur))


def read_changes_at(
    spark: SparkSession, table_dir: str, store_name: str, scope: str, batch_id: int
) -> DataFrame:
    """TIME TRAVEL: the change table as of an earlier committed batch
    (``sinks.read_version``) — the dimension as it was."""
    return read_version(
        spark, table_dir, store_name, _marker(scope), batch_id, CHANGES_SCHEMA
    )


def merge_cdc_batch(
    batch_df: DataFrame,
    batch_id: int,
    table_dir: str,
    store_name: str,
    scope: str,
) -> None:
    """foreachBatch body: merge one micro-batch of change events into
    the standing change table (recompute-affected-keys).

    Reads the committed version, fetches ONE seed row per affected
    user (their latest recorded change), prepends the seeds to the
    batch rows, and keeps exactly the batch rows that change status
    relative to their predecessor — the same lag-filter the batch
    operator uses, restricted to the affected keys. Writes the merged
    table as version ``v{batch_id}``; ``sinks.exactly_once`` then
    commits the watermark (see module docstring for the crash story)."""

    def merge() -> None:
        prior = read_changes(batch_df.sparkSession, table_dir, store_name, scope)
        batch_rows = batch_df.select(
            "user_id",
            F.col("event_type").alias("status"),
            "ts",
            "event_id",
            F.lit(False).alias("is_seed"),
        )
        affected = batch_rows.select("user_id").distinct()
        w_last = Window.partitionBy("user_id").orderBy(
            F.desc("ts"), F.desc("event_id")
        )
        seeds = (
            prior.join(affected, "user_id")
            .withColumn("rn", F.row_number().over(w_last))
            .filter(F.col("rn") == 1)
            .select("user_id", "status", "ts", "event_id", F.lit(True).alias("is_seed"))
        )
        w_ord = Window.partitionBy("user_id").orderBy("ts", "event_id")
        new_changes = (
            seeds.unionByName(batch_rows)
            .withColumn("prev_status", F.lag("status").over(w_ord))
            .filter(
                (~F.col("is_seed"))
                & (
                    F.col("prev_status").isNull()
                    | (F.col("status") != F.col("prev_status"))
                )
            )
            .select("user_id", "status", "ts", "event_id")
        )
        merged = prior.unionByName(new_changes)
        merged.write.mode("overwrite").parquet(version_dir(table_dir, batch_id))

    exactly_once(store_name, _marker(scope), batch_id, merge)


def intervals_from_changes(changes: DataFrame) -> DataFrame:
    """Derive [valid_from, valid_to) + is_current from a change table —
    the identical lead-window spelling (and tie-break) as the batch
    operator ``q_scd2_from_cdc``."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = F.lead("ts").over(w)
    return changes.select(
        "user_id",
        "status",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("valid_from"),
        F.date_format(nxt, "yyyy-MM-dd HH:mm:ss").alias("valid_to"),
        nxt.isNull().alias("is_current"),
    )
