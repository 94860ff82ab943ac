"""Streaming materialized-view maintenance (round 8).

``q_mv_incremental`` (operators/storage.py:733) proves the maintenance
ALGEBRA — merge(agg(history), agg(delta)) ≡ agg(all) for monoid
measures — as one batch operation. Production rollup MVs are
maintained the other way: deltas arrive continuously and each
micro-batch must fold into the stored view transactionally. This
module is that operator: ``foreachBatch`` aggregates the batch to MV
grain and merges it into the stored view by monoid addition, writing
a new table version and committing the batch watermark through
``sinks.exactly_once``, the protocol the KV sink and the SCD2 merge
(streaming/scd2.py) share.

Scale shape (100 TB contract):

- Per refresh, only the BATCH is scanned and shuffled (its rollup is
  micro-batch-sized); the stored MV joins in at AGGREGATE cardinality
  (days × types) via a full-outer equi-join on the group key. History
  is never re-read after the one-time base materialization.
- The merged view is written as a NEW VERSION per batch (full-version
  parquet dirs — filesystem-atomic in the sandbox; a lakehouse MERGE
  on a real deployment), and the watermark commits AFTER the version
  write: a crash between the two replays the batch, which rewrites the
  identical version (the merge is a pure function of (previous
  version, batch)) — idempotent by construction.
- Replayed batch ids at or below the watermark return without
  touching the table (``exactly_once`` skips them), so at-least-once
  delivery never double-counts a delta.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from steaminganalysis_spark.streaming.sinks import (
    KEY_PREFIX,
    KVStore,
    exactly_once,
    read_version,
    version_dir,
)

MV_SCHEMA = "day string, event_type string, n_events long, total_cents long"


def daily_rollup_mv(df: DataFrame) -> DataFrame:
    """The MV definition: per-(day, type) event count + exact cent sum
    — every measure a commutative monoid, the property that makes the
    view incrementally maintainable at all. Identical arithmetic to
    ``q_mv_incremental``'s rollup (operators/storage.py:769)."""
    return (
        df.select(
            F.date_format("ts", "yyyy-MM-dd").alias("day"),
            "event_type",
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
        )
        .groupBy("day", "event_type")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.sum("cents").cast("long").alias("total_cents"),
        )
    )


def merge_mv(base: DataFrame, delta: DataFrame) -> DataFrame:
    """Monoid merge of two MV frames at aggregate cardinality: counts
    add, cent sums add, absent groups coalesce to 0."""
    b = base.selectExpr("day", "event_type", "n_events AS bn", "total_cents AS bc")
    d = delta.selectExpr("day", "event_type", "n_events AS dn", "total_cents AS dc")
    return b.join(d, ["day", "event_type"], "full_outer").select(
        "day",
        "event_type",
        (F.coalesce("bn", F.lit(0)) + F.coalesce("dn", F.lit(0)))
        .cast("long")
        .alias("n_events"),
        (F.coalesce("bc", F.lit(0)) + F.coalesce("dc", F.lit(0)))
        .cast("long")
        .alias("total_cents"),
    )


def _marker(scope: str) -> str:
    return f"{KEY_PREFIX}mv-last-applied:{scope}"


def read_mv(
    spark: SparkSession, table_dir: str, store_name: str, scope: str
) -> DataFrame:
    """The committed state of the view: the version directory named by
    the last-applied watermark, or the pre-materialized base (written
    once at ``table_dir/base``) before any streaming commit."""
    cur = KVStore.instance(store_name).last_applied(_marker(scope))
    d = (
        os.path.join(table_dir, "base")
        if cur < 0
        else version_dir(table_dir, cur)
    )
    return spark.read.schema(MV_SCHEMA).parquet(d)


def read_mv_at(
    spark: SparkSession, table_dir: str, store_name: str, scope: str, batch_id: int
) -> DataFrame:
    """TIME TRAVEL: the view as of an earlier committed batch
    (``sinks.read_version``, as ``scd2.read_changes_at``)."""
    return read_version(spark, table_dir, store_name, _marker(scope), batch_id, MV_SCHEMA)


def merge_mv_batch(
    batch_df: DataFrame,
    batch_id: int,
    table_dir: str,
    store_name: str,
    scope: str,
) -> None:
    """foreachBatch body: aggregate the micro-batch to MV grain, merge
    into the committed view, write version ``v{batch_id}``, then
    advance the watermark (see module docstring for the crash story)."""

    def merge() -> None:
        prior = read_mv(batch_df.sparkSession, table_dir, store_name, scope)
        merged = merge_mv(prior, daily_rollup_mv(batch_df))
        merged.write.mode("overwrite").parquet(version_dir(table_dir, batch_id))

    exactly_once(store_name, _marker(scope), batch_id, merge)


def merge_mv_backfill_batch(
    batch_df: DataFrame,
    batch_id: int,
    table_dir: str,
    store_name: str,
    scope: str,
) -> None:
    """foreachBatch body for streams that carry BOTH ordinary deltas
    and RESTATEMENT BACKFILLS (rows flagged ``backfill = 1``): the
    delta subset monoid-adds as usual; the backfill subset REPLACES —
    every day present in it has its stored rows dropped and the
    batch's corrected rollup inserted, the merge a platform runs when
    an audit restates history (late corrections that must not
    double-count against what is already stored). Restated days are
    micro-batch-sized by contract (the backfill carries the full
    corrected day), so the replacement is a broadcast anti-join at
    aggregate cardinality + a union — history is still never re-read.
    Same crash story as ``merge_mv_batch``: version write, then
    watermark."""

    def merge() -> None:
        prior = read_mv(batch_df.sparkSession, table_dir, store_name, scope)
        normal = batch_df.filter(F.col("backfill") == 0).drop("backfill")
        bf = batch_df.filter(F.col("backfill") == 1).drop("backfill")
        merged = merge_mv(prior, daily_rollup_mv(normal))
        corrected = daily_rollup_mv(bf).localCheckpoint(eager=True)
        days = corrected.select("day").distinct()
        merged = merged.join(F.broadcast(days), "day", "anti").unionByName(
            corrected
        )
        merged.write.mode("overwrite").parquet(version_dir(table_dir, batch_id))

    exactly_once(store_name, _marker(scope), batch_id, merge)
