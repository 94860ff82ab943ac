"""Streaming incremental near-duplicate detection — the dedup operator
a continuously-arriving training corpus actually needs: each micro-batch
of documents is checked against EVERYTHING seen so far, not just the
current batch.

Mechanism (foreachBatch):
1. compute MinHash-LSH band signatures for the batch
   (`functions.text.minhash_band_signatures` — the same kernel as the
   batch `q_dedup_near`, so stream and batch agree row-for-row);
2. equi-join the batch signatures against the persistent signature
   index on (band, sig) → cross-batch near-dup candidate pairs;
3. also self-join within the batch (pairs arriving together);
4. append the batch's signatures to the index; record matches.

State layout: the index is a parquet directory keyed by (band, sig) —
append-only, compactable with `operators.storage.compact`. At cluster
scale this would be a bucketed table (bucketBy(band, sig)) or a KV
store so the probe is a shuffle-free lookup; the batch-partitioned
parquet stand-in keeps the exact same dataflow. Replays are idempotent
by construction: batch-id-scoped overwrite writes + a last-applied
watermark committed only after the writes, through
``sinks.exactly_once`` (the protocol every foreachBatch body shares),
scoped to the stream's checkpoint.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from steaminganalysis_spark.functions import minhash_band_signatures
from steaminganalysis_spark.streaming.sinks import (
    KEY_PREFIX,
    checkpoint_scope,
    exactly_once,
    exactly_once_sink,
)

__all__ = ["NearDupIndex", "near_dup_sink"]


class NearDupIndex:
    """Persistent LSH signature index + match log for one stream."""

    def __init__(self, state_dir: str, store_name: str, scope: str):
        self.sig_dir = os.path.join(state_dir, "signatures")
        self.match_dir = os.path.join(state_dir, "matches")
        self.store_name = store_name  # batch-id guard store
        self.marker = f"{KEY_PREFIX}neardup-last-applied:{scope}"

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        """Index one micro-batch through ``sinks.exactly_once``: both
        writes go to batch-id-scoped partitions with overwrite (a
        crash-replay of an uncommitted batch rewrites the same files —
        idempotent by construction), the prior-index probe
        partition-prunes to batch_id < current (so a half-written
        current partition can never self-match), and the watermark
        advances only AFTER both writes land (the commit point). A
        replay of a committed batch is skipped whole."""
        exactly_once(
            self.store_name, self.marker, batch_id, lambda: self._index(batch_df, batch_id)
        )

    def _index(self, batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        sigs = minhash_band_signatures(batch_df).persist()
        try:
            # candidates within the arriving batch itself
            within = (
                sigs.alias("x")
                .join(
                    sigs.alias("y"),
                    (F.col("x.band") == F.col("y.band"))
                    & (F.col("x.sig") == F.col("y.sig"))
                    & (F.col("x.doc_id") < F.col("y.doc_id")),
                )
                .select(
                    F.col("x.doc_id").alias("new_doc"),
                    F.col("y.doc_id").alias("dup_of"),
                )
            )
            # candidates against every previously indexed document
            if os.path.isdir(self.sig_dir):
                prior = (
                    spark.read.parquet(self.sig_dir)
                    .filter(F.col("batch_id") < batch_id)
                    .drop("batch_id")
                )
                against_prior = (
                    sigs.alias("n")
                    .join(
                        prior.alias("p"),
                        (F.col("n.band") == F.col("p.band"))
                        & (F.col("n.sig") == F.col("p.sig"))
                        & (F.col("n.doc_id") != F.col("p.doc_id")),
                    )
                    .select(
                        F.col("n.doc_id").alias("new_doc"),
                        F.col("p.doc_id").alias("dup_of"),
                    )
                )
                matches = within.unionAll(against_prior).distinct()
            else:
                matches = within.distinct()
            matches.write.mode("overwrite").parquet(
                f"{self.match_dir}/batch_id={batch_id}"
            )
            sigs.write.mode("overwrite").parquet(
                f"{self.sig_dir}/batch_id={batch_id}"
            )
        finally:
            sigs.unpersist()

    def matches(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(self.match_dir)

    def signatures(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(self.sig_dir)


def near_dup_sink(doc_stream: DataFrame, state_dir: str, checkpoint_dir: str):
    """Attach the incremental near-dup index to a streaming frame with
    (doc_id, text) columns; returns (DataStreamWriter, NearDupIndex).
    The index's marker is scoped to ``checkpoint_dir``, so streams whose
    state dirs share a basename (and so a store) keep apart."""
    idx = NearDupIndex(
        state_dir,
        f"neardup-{os.path.basename(state_dir)}",
        checkpoint_scope(checkpoint_dir),
    )
    writer, _ = exactly_once_sink(
        doc_stream, checkpoint_dir, lambda df, bid, _scope: idx.process_batch(df, bid)
    )
    return writer, idx
