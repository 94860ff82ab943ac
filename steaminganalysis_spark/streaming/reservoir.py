"""Streaming weighted reservoir sampling (round 10).

``q_sample_weighted`` (operators/curation.py) is the batch pass:
Efraimidis–Spirakis A-ES — rank every document by ``ln(u)/w`` with a
hash-derived uniform u and keep the top-K, selection probability
proportional to weight without replacement. Production corpora arrive
continuously; the streaming form is the A-ExpJ insight made trivially
exactly-once by determinism: because the priority is a PURE FUNCTION
of the document id (no RNG state), top-K-by-priority is an
associative, commutative monoid — merge(reservoir, batch) = top-K of
the union — so maintaining the sample is a per-batch merge of the
O(K) stored reservoir with the batch's own top-K, and the final
reservoir EQUALS the batch A-ES over everything that streamed
(stream≡batch; the registered key's oracle IS q_sample_weighted's).

Exactly-once (``sinks.exactly_once``, the protocol every foreachBatch
body shares):

- each merge reads the reservoir AT THE WATERMARK (``v{last}``), never
  "the latest dir", writes a self-contained ``v{batch_id}`` parquet
  dir, and THEN the watermark advances — a crash between the two
  replays the batch against the same committed predecessor and
  rewrites an identical version;
- replayed ids at or below the watermark are skipped untouched;
  version dirs above the watermark are invisible to readers (torn
  writes excluded).

Scale shape: per batch the corpus side is one map-side priority
projection ending in a top-K (TakeOrderedAndProject per-task heaps —
the batch never shuffles or sorts globally), unioned with K stored
rows and re-topped: O(batch + K). State is O(K) regardless of stream
volume — the property that makes a reservoir a reservoir.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from steaminganalysis_spark.streaming.sinks import (
    KEY_PREFIX,
    KVStore,
    exactly_once,
    version_dir,
)

RES_SCHEMA = "doc_id long, n_chars long, priority double"


def _marker(scope: str) -> str:
    return f"{KEY_PREFIX}reservoir-last-applied:{scope}"


def _committed(
    spark: SparkSession, out_dir: str, store_name: str, scope: str
) -> DataFrame:
    """The reservoir at the watermark — empty before the first commit."""
    store = KVStore.instance(store_name)
    cur = store.last_applied(_marker(scope))
    d = version_dir(out_dir, cur)
    if cur < 0 or not os.path.isdir(d):
        return spark.createDataFrame([], RES_SCHEMA)
    return spark.read.schema(RES_SCHEMA).parquet(d)


def merge_batch(
    batch_df: DataFrame,
    batch_id: int,
    out_dir: str,
    store_name: str,
    scope: str,
    k: int,
) -> None:
    """foreachBatch body: score the arriving documents with the SAME
    hash-derived A-ES priority as the batch key, merge with the
    committed reservoir, keep the top-k, commit a new version."""
    from steaminganalysis_spark.operators.curation import _uniform_sql

    def merge() -> None:
        pri = f"ln({_uniform_sql('doc_id', 'wsamp')}) / CAST(n_chars AS DOUBLE)"
        scored = batch_df.selectExpr(
            "doc_id", "n_chars", f"{pri} AS priority"
        ).orderBy(F.col("priority").desc(), "doc_id").limit(k)
        merged = (
            _committed(batch_df.sparkSession, out_dir, store_name, scope)
            .unionByName(scored)
            .orderBy(F.col("priority").desc(), "doc_id")
            .limit(k)
        )
        merged.write.mode("overwrite").parquet(version_dir(out_dir, batch_id))

    exactly_once(store_name, _marker(scope), batch_id, merge)


def read_reservoir(
    spark: SparkSession, out_dir: str, store_name: str, scope: str
) -> DataFrame:
    """The committed reservoir (watermark version only — later dirs may
    be torn writes from a crashed batch and are excluded)."""
    return _committed(spark, out_dir, store_name, scope)
