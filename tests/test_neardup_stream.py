"""Streaming incremental near-dup index: cross-batch duplicates must be
caught (the whole point — a batch-local dedup would miss them), replays
must be idempotent, and the stream's match set must agree with the batch
LSH candidates over the union of the data."""

from __future__ import annotations

import glob
import shutil

from pyspark.sql import functions as F

from steaminganalysis_spark.functions import minhash_band_signatures
from steaminganalysis_spark.streaming.neardup import NearDupIndex, near_dup_sink

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from the warm windowsill and the birds sing in the garden trees "
    "as morning light spreads slowly across the quiet village square"
)


def _docs(start_id, texts):
    return [(start_id + i, t) for i, t in enumerate(texts)]


def _perturb(text, word):
    toks = text.split(" ")
    toks[-1] = word
    return " ".join(toks)


def test_cross_batch_near_dups_and_idempotence(spark, tmp_path):
    schema = "doc_id long, text string"
    src = tmp_path / "src"
    src.mkdir()

    def feed(fname, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            str(tmp_path / fname)
        )
        part = glob.glob(str(tmp_path / fname / "part-*.parquet"))[0]
        shutil.copy(part, str(src / f"{fname}.parquet"))

    # batch 1: originals (0, 1) — unrelated texts; batch 2 arrives LATER
    # with a near-copy of doc 0 (one word changed) plus a fresh doc
    other = " ".join(f"w{i} token{i*7%13} filler{i}" for i in range(40))
    feed("b1", _docs(0, [BASE, other]))

    stream = spark.readStream.schema(schema).parquet(str(src))
    writer, idx = near_dup_sink(
        stream, str(tmp_path / "state"), str(tmp_path / "ckpt")
    )
    q = writer.start()
    try:
        q.processAllAvailable()
        feed("b2", _docs(10, [_perturb(BASE, "meadow"), "completely different tiny text here"]))
        q.processAllAvailable()
    finally:
        q.stop()

    matches = {
        (r.new_doc, r.dup_of) for r in idx.matches(spark).collect()
    }
    # the cross-batch near-copy must be flagged against the original
    assert (10, 0) in matches, matches
    # unrelated docs must not match each other
    assert (11, 1) not in matches and (1, 0) not in matches

    # stream-batch equivalence: the streamed index holds exactly the
    # batch kernel's signatures over the union of all fed documents
    union = spark.createDataFrame(
        _docs(0, [BASE, other])
        + _docs(10, [_perturb(BASE, "meadow"), "completely different tiny text here"]),
        schema,
    )
    batch_sigs = {
        (r.doc_id, r.band, r.sig)
        for r in minhash_band_signatures(union).collect()
    }
    stream_sigs = {
        (r.doc_id, r.band, r.sig) for r in idx.signatures(spark).collect()
    }
    assert stream_sigs == batch_sigs

    # replay idempotence: re-running an already-applied batch id is a no-op
    n_before = idx.matches(spark).count()
    replay = spark.createDataFrame(_docs(10, [_perturb(BASE, "meadow")]), schema)
    idx.process_batch(replay, batch_id=1)  # batch 1 was already applied
    assert idx.matches(spark).count() == n_before


def test_stream_neardup_query_matches_batch_candidates(spark):
    """The registered q_stream_neardup match set over the fixture
    corpus equals the batch LSH candidate pairs computed over the
    whole corpus at once — the stream-batch equivalence argument for
    the registered key."""
    from steaminganalysis_spark.registry import collect_queries
    from steaminganalysis_spark.sources import load

    QUERIES, _ = collect_queries()
    sf = "/root/testdata/sf0.001"
    got = {
        (r.new_doc, r.dup_of)
        for r in QUERIES["q_stream_neardup"](spark, sf).collect()
    }
    sigs = minhash_band_signatures(
        load(spark, sf, "documents").select("doc_id", "text")
    )
    batch = {
        (max(a, b), min(a, b))
        for a, b in (
            (r.a, r.b)
            for r in sigs.alias("x")
            .join(
                sigs.alias("y"),
                (F.col("x.band") == F.col("y.band"))
                & (F.col("x.sig") == F.col("y.sig"))
                & (F.col("x.doc_id") < F.col("y.doc_id")),
            )
            .select(F.col("x.doc_id").alias("a"), F.col("y.doc_id").alias("b"))
            .distinct()
            .collect()
        )
    }
    normalized = {(max(a, b), min(a, b)) for a, b in got}
    assert normalized == batch


def test_streams_sharing_a_state_dir_basename_keep_their_batches(spark, tmp_path):
    """Two streams whose state dirs share a basename share one guard
    store; their markers are scoped by checkpoint, so stream B's batch 0
    runs after stream A committed batches 0 and 1."""
    schema = "doc_id long, text string"
    src = tmp_path / "src"
    src.mkdir()
    stream = spark.readStream.schema(schema).parquet(str(src))
    batch = spark.createDataFrame(
        _docs(0, [BASE, _perturb(BASE, "meadow"), "an unrelated short text"]), schema
    )
    _, idx_a = near_dup_sink(stream, str(tmp_path / "a" / "state"), str(tmp_path / "a" / "ckpt"))
    _, idx_b = near_dup_sink(stream, str(tmp_path / "b" / "state"), str(tmp_path / "b" / "ckpt"))
    assert idx_a.store_name == idx_b.store_name
    idx_a.process_batch(batch, 0)
    idx_a.process_batch(batch, 1)
    idx_b.process_batch(batch, 0)
    got_b = {(r.new_doc, r.dup_of) for r in idx_b.matches(spark).collect()}
    assert got_b == {(0, 1)}
    assert {(r.new_doc, r.dup_of) for r in idx_a.matches(spark).collect()} >= got_b
