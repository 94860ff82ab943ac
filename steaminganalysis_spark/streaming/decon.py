"""Streaming decontamination guard (round 9).

``q_decontaminate_fuzzy`` (operators/extras.py) is the batch pass: for
every (train, eval) document pair, the eval doc's 5-gram CONTAINMENT
in the training doc, thresholded at 50%. Production corpora don't
arrive as one batch — crawl snapshots land continuously, and the decon
guard has to run per ingest increment BEFORE documents reach the
training mix. This module is that operator: ``foreachBatch`` shingles
only the arriving micro-batch, probes it against the static
benchmark-sized eval shingle set (broadcast — it never changes between
benchmark releases), and appends the flagged pairs transactionally.

Why this is exactly-once (``sinks.exactly_once``, the protocol every
foreachBatch body shares):

- Containment is per (train doc, eval set) and documents never span
  micro-batches, so each batch's flags are a pure function of the
  batch — the incremental union over batches EQUALS the batch pass
  over the union (the stream≡batch contract; the registered key's
  oracle IS q_decontaminate_fuzzy's oracle).
- Each batch writes a self-contained ``b{batch_id}`` parquet dir and
  THEN the watermark advances: a crash between the two replays the
  batch, which rewrites an identical dir (mode=overwrite, pure
  function); replayed ids at or below the watermark are skipped
  untouched; dirs above the watermark are invisible to readers (torn
  writes excluded).

Scale shape: per increment the corpus-side work is one shingle pass
over the BATCH (8-byte xxhash64 keys — shingle strings never shuffle)
plus a broadcast hash join against the eval set; nothing ever re-reads
history. The one blowup risk — boilerplate shingles shared with the
eval set — is the same as the batch key's, with
``functions.text.cap_document_frequency`` as the standing guard.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from steaminganalysis_spark.streaming.sinks import KEY_PREFIX, KVStore, exactly_once

FLAGS_SCHEMA = (
    "train_doc long, eval_doc long, shared long,"
    " eval_ngrams long, containment_ppm long"
)


def _batch_dir(out_dir: str, batch_id: int) -> str:
    return os.path.join(out_dir, f"b{batch_id}")


def flag_batch(
    batch_df: DataFrame,
    batch_id: int,
    eval_sh: DataFrame,
    evsz: DataFrame,
    out_dir: str,
    store_name: str,
    scope: str,
) -> None:
    """foreachBatch body: shingle the arriving documents, probe the
    broadcast eval shingle set, write this batch's flagged pairs as a
    self-contained dir, then advance the watermark (idempotence story
    in the module docstring)."""
    from steaminganalysis_spark.functions.text import shingle_hashes
    from steaminganalysis_spark.operators.extras import DECON_FUZZY_PPM

    def flag() -> None:
        tr = shingle_hashes(batch_df, n=5).select(
            F.col("doc_id").alias("train_doc"), "h"
        )
        flags = (
            tr.join(F.broadcast(eval_sh), "h")
            .groupBy("train_doc", "eval_doc")
            .agg(F.count("*").alias("shared"))
            .join(F.broadcast(evsz), "eval_doc")
            .withColumn(
                "containment_ppm", F.expr("(shared * 1000000) DIV eval_ngrams")
            )
            .filter(F.col("containment_ppm") >= DECON_FUZZY_PPM)
            .select(
                "train_doc", "eval_doc", "shared", "eval_ngrams", "containment_ppm"
            )
        )
        flags.write.mode("overwrite").parquet(_batch_dir(out_dir, batch_id))

    exactly_once(store_name, f"{KEY_PREFIX}decon-last-applied:{scope}", batch_id, flag)


def read_flags(
    spark: SparkSession, out_dir: str, store_name: str, scope: str
) -> DataFrame:
    """All flagged pairs committed through the watermark — dirs above
    it may be torn writes from a crashed batch and are excluded."""
    store = KVStore.instance(store_name)
    cur = store.last_applied(f"{KEY_PREFIX}decon-last-applied:{scope}")
    dirs = [
        _batch_dir(out_dir, b)
        for b in range(cur + 1)
        if os.path.isdir(_batch_dir(out_dir, b))
    ]
    if not dirs:
        return spark.createDataFrame([], FLAGS_SCHEMA)
    return spark.read.schema(FLAGS_SCHEMA).parquet(*dirs)
