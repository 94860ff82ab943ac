"""Driver-contract robustness: the grading driver imports
``__spark_entry__`` with its own session and calls things in orders we
don't control — these tests pin the behaviors that must survive that."""

from __future__ import annotations

import pytest

import __spark_entry__ as E
from steaminganalysis_spark.sources import load


def test_queries_and_oracle_idempotent():
    q1, o1 = E.queries(), E.oracle_sql()
    q2, o2 = E.queries(), E.oracle_sql()
    assert set(q1) == set(q2) and o1 == o2
    assert set(o1) <= set(q1)  # every oracle key is a query key


def test_entry_twice_stable(spark):
    r1 = sorted(tuple(r) for r in E.entry(spark).collect())
    r2 = sorted(tuple(r) for r in E.entry(spark).collect())
    assert r1 == r2 and len(r1) > 0


@pytest.mark.parametrize("sf_dir", ["/root/testdata/sf0.001", "/root/testdata/sf0.1"])
def test_flagship_runs_at_all_sfs(spark, sf_dir):
    q = E.queries()
    assert q["q_daily_rollup"](spark, sf_dir).count() > 0


def test_streaming_query_twice_in_one_session(spark):
    q = E.queries()
    n1 = q["q_stream_tumbling_daily"](spark, "/root/testdata/sf0.001").count()
    n2 = q["q_stream_tumbling_daily"](spark, "/root/testdata/sf0.001").count()
    assert n1 == n2 > 0  # no memory-sink name collisions


def test_unknown_table_raises_keyerror(spark):
    with pytest.raises(KeyError):
        load(spark, "/root/testdata/sf0.001", "nope")


def test_load_fails_fast_on_non_utc_session(spark):
    """NTZ timestamp normalization is evaluated with the session
    timezone; a non-UTC session would silently shift instants, so
    ``load``/``events_stream`` must refuse it loudly (ADVICE r2)."""
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        with pytest.raises(RuntimeError, match="timeZone"):
            load(spark, "/root/testdata/sf0.001", "events")
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")


def test_checkpoint_manager_refuses_a_second_writer_of_a_batch(spark, tmp_path):
    """``HDFSMetadataLog`` writes batch N with ``createAtomic(path,
    false)`` and relies on the close failing when another writer got
    there first. The session's checkpoint manager is the FileSystem-based
    one, also after ``get_spark`` reuses the session, and it keeps that
    refusal: the second close raises and the first writer's bytes stay."""
    from py4j.protocol import Py4JJavaError

    from steaminganalysis_spark.session import get_spark

    def manager(session, path):
        jvm = session._jvm
        hadoop_conf = session._jsparkSession.sessionState().newHadoopConf()
        cfm = jvm.org.apache.spark.sql.execution.streaming.checkpointing
        return cfm.CheckpointFileManager.create(path, hadoop_conf)

    log_file = tmp_path / "offsets" / "0"
    path = spark._jvm.org.apache.hadoop.fs.Path(log_file.as_uri())
    reused = get_spark(app_name="sa-spark-tests", shuffle_partitions=8)
    for session in (spark, reused):
        assert manager(session, path).getClass().getSimpleName() == (
            "FileSystemBasedCheckpointFileManager"
        )

    fm = manager(reused, path)
    first = fm.createAtomic(path, False)
    first.write(bytearray(b"v1\nfirst writer"))
    first.close()
    second = fm.createAtomic(path, False)
    second.write(bytearray(b"v1\nsecond writer"))
    with pytest.raises(Py4JJavaError, match="already exists"):
        second.close()
    assert log_file.read_bytes() == b"v1\nfirst writer"


def test_demo_app_accumulates_day_totals(spark):
    """The runnable end-to-end demo (datagen → JSON → parse → classify →
    rollup → idempotent KV sink) accumulates consistent per-day hashes:
    success ≤ total and fee only from successful orders."""
    from steaminganalysis_spark.app import run_demo

    state = run_demo(duration_s=4.0, rows_per_second=100)
    assert state, "demo produced no KV state"
    for key, h in state.items():
        assert h["total"] > 0
        assert 0 <= h["success"] <= h["total"]
        assert h["fee_cents"] >= 0
        if h["success"] == 0:
            assert h["fee_cents"] == 0


# Keys registered AFTER the round-16 window froze — the round-18
# window absorbed this ENTIRE set (rounds 17/18 were optimization
# rounds and registered no new keys; the r17 window kept the r16
# list, so these three stayed unstamped until now). Every new @query
# registration in a future build round MUST be added to a fresh
# deferred set (the same bookkeeping rounds 2-16 used).
deferred_to_round17: set[str] = {
    # round-16 additions (operators/storage.py — DV-aware
    # auto-OPTIMIZE, the VERDICT r15 weak-flag fix: fold-then-compact
    # in one commit over bitmap-DV-dirty small files, live-row output
    # sizing, pair-dv select-skip surfaced in the decision record,
    # convergence + crash-shape regression pinned)
    "q_table_auto_optimize_dv",
    # round-16 additions (operators/storage.py — concurrent bitmap
    # deletes: optimistic retry-merge ORs the loser's sidecars with
    # the winner's entries executor-side; both commit, cardinalities
    # exact; dead-layout conflict raises SnapDeleteConflict)
    "q_table_dv_bitmap_concurrent",
    # round-16 additions (streaming/queries.py — signed file-grain
    # consumption of REWRITE commits: removed files enter the
    # deterministic log as -1 entries, adds as +1, so a MERGE rewrite
    # or compaction drains across bounded batches with exactly-once
    # replay; additive-MV soundness, sub-commit mid-state, and
    # net-zero compaction all asserted live)
    "q_stream_from_table_rewrite_ratelimited",
}

# Retired: the round-15 additions, absorbed into ROUND16_WINDOW (kept
# for the historical record of what each key pinned).
_absorbed_round15_additions: set[str] = {
    # round-15 additions (operators/storage.py — bitmap-encoded
    # deletion vectors, VERDICT r14 order #4: per-file compressed
    # position bitmaps + exact cardinalities in the manifest replace
    # pair rows; overlapping deletes OR exactly, COUNT pushdown is
    # O(files) manifest arithmetic with zero delete-data reads, MoR
    # read decodes bitmaps executor-side via mapInPandas)
    "q_table_merge_dv_bitmap",
    # round-15 additions (operators/ann.py — the portable ANN quartet,
    # VERDICT r14 order #3: fixed-point twins of the rows-only float
    # quartet; int64 quantization/distances/Lloyd/lowbias32 hyperplanes
    # make routings, codes, shortlists, and final top-5 identical on
    # both engines — ORACLE-EXACT; recall floors + exact-distance
    # reporting pinned in test_portable_ann_quartet_recall_vs_exact)
    "q_sim_ann_ivf_portable",
    "q_sim_ann_lsh_portable",
    "q_sim_ann_pq_portable",
    "q_sim_ann_ivfpq_portable",
    # round-15 additions (operators/storage.py — type widening +
    # default-value schema evolution, VERDICT r14 order #5: int32→
    # int64 widening as a metadata-only commit with old narrow
    # footers read under the widened schema, ADD COLUMN ... DEFAULT
    # materializing per-file initial-defaults without rewrite while
    # explicit NULLs stay NULL; narrowing and type conflicts reject
    # at commit from footers)
    "q_table_schema_widening",
    # round-15 additions (streaming/queries.py — rate-limited
    # table-as-streaming-source, VERDICT r14 order #6: a five-file
    # backfill commit drains across three max_files=2 micro-batches
    # with offsets indexing the deterministic append-file log; a
    # mid-backfill crash replays into the manifest-txn skip arm with
    # nothing re-applied; non-append commits refuse)
    "q_stream_from_table_cdf_ratelimited",
    # round-15 additions (operators/storage.py — bitmap-DV
    # rewrite/fold, Iceberg's rewrite-position-deletes: dirty files
    # rewrite with their bitmaps applied and drop the entries; clean
    # files byte-untouched, content preserved, plain pushdown and
    # compaction eligible again, second fold a committed no-op)
    "q_table_dv_bitmap_rewrite",
    # round-15 additions (operators/storage.py — AS OF <timestamp>
    # time travel: monotonic commit_ts enforced at commit, resolution
    # = latest commit_ts ≤ ts by manifest arithmetic, before-first-
    # commit raises, boundary inclusive — all asserted live)
    "q_table_time_travel_timestamp",
}

# Retired: the round-14 additions, absorbed into ROUND15_WINDOW (kept
# for the historical record of what each key pinned).
_absorbed_round14_additions: set[str] = {
    # round-14 additions (operators/storage.py — DV-aware aggregate
    # pushdown: COUNT(*) = footer rows − manifest-scoped DV pair rows
    # (one pair per deleted row, exact), per-aggregate MIN/MAX proof
    # from DV-free bound-attaining files, overlap-double-delete and
    # partial-stats refusals)
    "q_table_agg_pushdown_dv",
    # round-14 additions (operators/storage.py — files/partitions
    # metadata relations: per-file partition tuple + footer rows +
    # size + stat span, per-partition rollups with NULL-poisoned
    # span merges, reconciled live against the manifest and
    # hash-checked against raw data)
    "q_table_metadata_tables",
    # round-14 additions (operators/storage.py — named refs: immutable
    # tags + movable branch heads as one-JSON-file refs; VACUUM counts
    # ref heads as retained so tagged snapshots survive retention;
    # time-travel by ref name; drop-then-expire actually expires)
    "q_table_refs",
    # round-14 additions (operators/ann.py — ANN index maintenance as
    # table commits: the index manifest carries covers_corpus_version
    # alongside its shard list, incremental updates plan the corpus
    # delta via snap_read_incremental's appends fast path and assign
    # only added files; rows-only — Lloyd float centroids — with the
    # full-rebuild equality asserted live and crash/rewrite paths
    # pinned in tests/test_storage.py)
    "q_table_ann_index_commits",
    # round-14 additions (operators/llm.py — ORACLE-EXACT top
    # principal component: FLOOR(x·2^12) quantization (power-of-two
    # scale, IEEE-exact), floor-mean centering, 8 integer power
    # rounds with sign·(|w|·2^10 // max|w|) rescale — the portable
    # conversion of rows-only q_emb_pca_power (VERDICT r13 order #9);
    # float-alignment |cos| ≥ 0.999 + int64 headroom pinned)
    "q_emb_pca_power_portable",
    # round-14 additions (operators/ann.py — ORACLE-EXACT k-means:
    # fixed-point Lloyd, integer squared distances with lowest-k
    # ties, floor-mean centroid updates, empty clusters keep their
    # centroid; membership rollup hash-checks; ≥95% agreement with
    # float Euclidean Lloyd from the same seeds pinned)
    "q_cluster_kmeans_portable",
    # round-14 additions (operators/storage.py — HIDDEN partitioning:
    # transform specs (bucket[n] via crc32, truncate[w], day) recorded
    # in the manifest; queries filter on SOURCE columns and the
    # planner converts predicates through the transforms — bucket and
    # band pruning multiply, zlib.crc32 mirrors Spark's crc32
    # bit-exactly, same-bucket probes plan identical file sets)
    "q_table_partition_transforms",
    # round-14 additions (operators/storage.py — auto-OPTIMIZE: the
    # compaction decision made FROM the files metadata relation
    # (footer row counts under threshold), executed as one standard
    # compaction commit; well-sized files byte-untouched, second run
    # is a committed no-op — maintenance converges)
    "q_table_auto_optimize",
    # round-14 additions (operators/llm.py — filtered vector search:
    # top-k cosine under a metadata predicate applied as a JOIN
    # CONDITION (pre-filtering — exact top-k under the filter, never
    # the post-filter <k failure); same broadcast query-side plan as
    # q_sim_topk)
    "q_sim_topk_filtered",
    # round-14 additions (streaming/queries.py — streaming ingest ×
    # auto-optimize: drip-file ingestion with metadata-driven
    # maintenance between epochs and across a checkpoint restart;
    # well-sized files byte-untouched, convergence to a no-op, final
    # content hash-checks — the streaming small-file lifecycle)
    "q_stream_table_maintenance",
    # round-14 additions (streaming/queries.py — training-data
    # snapshots as tags: a mid-ingestion tag keeps its snapshot alive
    # through later compaction AND VACUUM via ref + shared-file
    # reference counting; read-by-tag returns exactly the epoch-1
    # corpus after everything it referenced was superseded; dropping
    # the tag releases manifest and files — reproducible "which rows
    # trained model v1" as one JSON ref)
    "q_stream_table_epoch_tags",
}

# Retired: the round-13 additions, absorbed into ROUND14_WINDOW (kept
# for the historical record of what each key pinned).
_absorbed_round13_additions: set[str] = {
    # round-13 additions (operators/storage.py — partition-aware
    # manifest: per-file partition tuples + spec ride the manifest, a
    # partition predicate prunes at manifest grain; spec evolution is
    # metadata-only and old-spec files are conservatively planned)
    "q_table_partition_pruning",
    # round-13 additions (operators/storage.py — OPTIMIZE racing
    # appends: disjoint rewrite/append commits commute via CAS retry,
    # overlapping rewrites conflict loudly and abandon their staged
    # output)
    "q_table_optimize_concurrent",
    # round-13 additions (operators/storage.py — merge-on-read
    # deletion vectors: equality-delete files ride the manifest dv
    # map with per-file DV-vs-COW selection; reads apply DVs via one
    # broadcast anti-join, scoped to the file names the manifest
    # lists)
    "q_table_merge_dv",
    # round-13 additions (streaming/queries.py — mid-stream schema
    # evolution on snapshot-table ingest: footer-validated per-batch
    # commits, one-metadata-commit evolution across a checkpoint
    # restart, rogue/conflicting batches reject with nothing visible)
    "q_stream_table_schema_evolution",
    # round-13 additions (operators/storage.py — snapshot diff /
    # change-data-feed: manifest-grain shared-file cancellation,
    # exceptAll copy-through cancellation, keyed classification into
    # insert/delete/update pre+postimage)
    "q_table_snapshot_diff",
    # round-13 additions (operators/storage.py — write-audit-publish:
    # batches land on invisible branches, audits gate the CAS
    # fast-forward to main, failed audits drop the branch with main
    # byte-untouched)
    "q_table_wap_publish",
    # round-13 additions (streaming/queries.py — partition-aware
    # streaming ingest: per-batch day-partitioned files enter the
    # manifest with their tuples, txn-idempotent commits, manifest-
    # grain day pruning over data committed seconds earlier)
    "q_stream_table_partition_ingest",
    # round-13 additions (operators/storage.py — RESTORE as a forward
    # commit: the successor re-references the target version's doc
    # under a new number, bad commits stay time-travelable, O(1)
    # regardless of table size)
    "q_table_restore",
    # round-13 additions (streaming/queries.py — full-CDC streaming
    # sink: updates COW span-matched files, inserts append, deletes
    # take the merge-on-read DV path, all in one atomic commit with
    # same-batch delete-beats-update and DV-fold-into-rewrite)
    "q_stream_table_cdc_dv",
    # round-13 additions (operators/storage.py — two-level data
    # skipping: partition-tuple pruning then per-file stat-span
    # pruning inside surviving partitions, each level independently
    # superset-safe)
    "q_table_two_level_pruning",
    # round-13 additions (operators/storage.py — CDF-driven
    # incremental MV refresh: signed per-class deltas from snap_diff,
    # integer-cent monoids, O(changed rows) refresh equal to
    # re-aggregation row for row)
    "q_table_mv_from_cdf",
    # round-13 additions (operators/storage.py — ANALYZE TABLE with
    # mergeable per-file portable-HLL registers riding the manifest
    # as a metadata-only commit; manifest-merged NDV estimates equal
    # the whole-table estimate bit-exactly, hash-checked)
    "q_table_analyze_ndv",
    # round-13 additions (operators/storage.py — bloom-filter file
    # skipping: per-file BLP blooms over crc32(text) ride the manifest
    # metadata-only; point lookups on a high-entropy column prune at
    # planning time where min/max spans are blind; Python probe mirror
    # pinned bit-equal to the SQL position family)
    "q_table_bloom_skip",
    # round-13 additions (operators/storage.py — OPTIMIZE ZORDER as a
    # table commit: Morton-clustered rewrite with fresh two-column
    # stats riding the CAS successor, multi-column pruned planner;
    # user_id predicates prune where the range layout was blind;
    # conflict algebra pinned with mid-window fault injections)
    "q_table_optimize_zorder",
    # round-13 additions (streaming/queries.py — the snapshot table as
    # a STREAMING SOURCE: one micro-batch per committed version,
    # offsets = snapshot versions, CDF from manifests alone; consumer-
    # side commit/watermark crash window closed by the MV table's own
    # txn marker; stream≡batch and oracle hash-checked)
    "q_stream_from_table_cdf",
    # round-13 additions (operators/storage.py — DESCRIBE HISTORY as a
    # queryable relation from manifests + footer metadata alone: five
    # operation classes by file-set algebra, exact footer row counts,
    # added/removed file counts — hash-checked, not just described)
    "q_table_history",
    # round-13 additions (operators/storage.py — corpus curation as
    # audited table commits: quality floor + prefix-fingerprint dedup
    # classified in one window pass, removals committed as pure-DV
    # merge-on-read deletes (zero rewrite asserted), raw v0 stays
    # time-travelable, per-language accounting hash-checked)
    "q_corpus_curation_commits",
    # round-13 additions (operators/storage.py — column-mapping rename
    # evolution: reads resolve by stable field id through per-file
    # physical-name mappings; renames are metadata-only; the
    # half-NULL mergeSchema failure asserted live; swap/cycle/drop
    # pinned)
    "q_table_column_mapping",
    # round-13 additions (operators/storage.py — sharded manifests
    # under a manifest list: planning opens the list + ONLY matching
    # shard docs, absent partitions plan zero I/O, shards are
    # invisible until the atomic list rename, commits localize to one
    # shard + the list)
    "q_table_manifest_list",
    # round-13 additions (operators/storage.py — aggregate pushdown to
    # manifest stats: MIN/MAX/COUNT from per-file bounds + footer row
    # counts with zero data pages and no Spark job; refuses on partial
    # stats, DV-carrying manifests, and empty tables)
    "q_table_agg_pushdown",
    # round-13 additions (operators/storage.py — incremental scan
    # between versions: append-only ranges take a file-arithmetic fast
    # path planning exactly the added files; any rewrite in the range
    # falls back to snap_diff's insert class; strategy asserted)
    "q_table_incremental_read",
    # round-13 additions (streaming/queries.py — table-to-table
    # replication: CDF out of the source via snap_diff, full-CDC into
    # the replica via the DV sink, one exactly-once commit per source
    # version; replica == source head row-for-row, replay
    # byte-identical, scattered deletes take the replica's DV path)
    "q_stream_table_replicate",
    # round-13 additions (operators/storage.py — CHECK constraints at
    # commit: stats-proof fast path (zero rows read when footer bounds
    # sit inside), scan of only unproven files, atomic rejection with
    # nothing visible; NULLs reject; edge bounds prove)
    "q_table_constraint_commit",
    # round-13 additions (operators/storage.py — null-count stats:
    # per-file footer null counts ride the manifest; IS NULL plans
    # only files with nulls, IS NOT NULL prunes all-null files; the
    # sparse-column skipping dimension min/max cannot serve)
    "q_table_null_pruning",
}

# Retired: the round-12 additions, absorbed into ROUND13_WINDOW (kept
# for the historical record of what each key pinned).
_absorbed_round12_additions: set[str] = {
    # round-12 additions (operators/storage.py — optimistic
    # concurrency on the atomic-manifest table: O_EXCL link-based CAS
    # on manifests/v{N+1}.json, loser re-reads and retries; both
    # racers' rows land exactly once)
    "q_table_concurrent_commit",
    # round-12 additions (operators/storage.py — snapshot expiration:
    # VACUUM deletes manifests below the retention cutoff and data
    # files unreferenced by retained manifests; a file shared by an
    # expired and a retained snapshot survives)
    "q_table_vacuum",
    # round-12 additions (operators/storage.py — file-grain
    # copy-on-write MERGE into the snapshot table: only manifest-listed
    # files containing matched keys rewrite, swap committed atomically)
    "q_table_merge_snapshot",
    # round-12 additions (operators/llm.py — oracle-exact SimHash:
    # md5-derived shingle hash + lowbias32 bit-votes make the 32-bit
    # signatures and Hamming distances hash-checkable cross-engine)
    "q_dedup_simhash_portable",
    # round-12 additions (operators/storage.py — manifest-level data
    # skipping: per-file footer min/max recorded at commit time, a
    # range read plans only span-intersecting files; stats-less files
    # always kept — pruning is a superset of the true match)
    "q_table_pruned_read",
    # round-12 additions (streaming/queries.py — streaming CDC MERGE
    # into the snapshot table: per micro-batch, manifest-stats file
    # classification, span-matched copy-on-write rewrite with the
    # batch-sized update side broadcast, stats carried forward through
    # the CAS commit, KVStore watermark last — exactly-once)
    "q_stream_table_cdc_merge",
    # round-12 additions (operators/aggregates.py — oracle-exact
    # portable Bloom filter: lowbias32 bit positions build the
    # byte-identical 512-word array in both engines, so even the
    # false-positive set hash-checks; the sixth portable sketch)
    "q_agg_bloom_portable",
    # round-12 additions (operators/graph.py — deterministic random
    # walks: next hop = argmin of the portable lowbias32 priority of
    # (node, step, epoch, neighbor), so the DeepWalk-style path corpus
    # is oracle-exact; frontier-join economics per step)
    "q_graph_random_walks",
    # round-12 additions (operators/storage.py — manifest-tracked
    # schema evolution: add-column commits without rewrite, appended
    # files footer-validated at commit time, time travel serves the
    # old schema, rogue data-file columns cannot leak)
    "q_table_schema_evolution",
}


def test_round18_correctness_window_composition():
    """The driver verifies the FIRST ~50 registered queries; the
    round-18 window is the explicit ROUND18_WINDOW key list — the two
    canaries, the three r17-optimized keys the r17 VERDICT flagged as
    builder-only-verified (item 3), this round's execution-changed
    keys (single-pass MoR rollup, packed radius-join argmin), the
    ENTIRE former deferred_to_round17 set (the three oracled keys
    never driver-stamped — absorbed, the r15→r16 precedent), three
    DV-family re-checks for the r18 shared-path changes, and the
    oldest round-9/10-stamp re-checks as rotation fill. Pin it so a
    stray registration (or an import reorder) cannot silently
    displace queries out of the checked window before the driver
    runs. Update deliberately on each round's rotation."""
    import json
    from pathlib import Path

    from steaminganalysis_spark.registry import ROUND18_WINDOW, collect_queries

    QUERIES, ORACLE = collect_queries()
    first50 = list(QUERIES)[:50]
    assert len(ROUND18_WINDOW) == 50
    assert first50 == ROUND18_WINDOW
    # the canaries must sit inside the window
    for k in (
        "q_daily_rollup",
        "q_tpch_q12",  # HUGEINT-class sentinel (round 2's one red row)
    ):
        assert k in first50, k
    # the r17 VERDICT's three builder-only-verified optimized keys
    # and this round's execution-changed keys head the window
    for k in (
        "q_graph_butterfly",
        "q_table_two_level_pruning",
        "q_table_agg_pushdown_dv",
        "q_table_merge_dv_bitmap",
        "q_geo_radius_join",
    ):
        assert k in first50, k
    # Rotation closure: every key never stamped by any driver
    # CORRECTNESS row must be inside this round's window (the former
    # deferred_to_round17 set is exactly that residue — absorbed).
    # (Glob is two-digit-safe: r0[1-9] broke at CORRECTNESS_r10.json.)
    checked = set()
    for p in sorted(
        Path(__file__).resolve().parent.parent.glob("CORRECTNESS_r*.json")
    ):
        checked |= set(json.loads(p.read_text()))
    never = [k for k in QUERIES if k not in checked and k in ORACLE]
    assert set(never) <= set(first50), sorted(set(never) - set(first50))
    assert deferred_to_round17 <= set(first50)
    # every key in the round-18 window is registered with an oracle
    # (rows-only keys keep their pinned invariant tests instead).
    rows_only_in_window = {k for k in first50 if k not in ORACLE}
    assert rows_only_in_window == set(), rows_only_in_window


def test_bench_previous_extended_reads_driver_wrapped_files():
    """bench.py's extended-set regression check must actually find the
    reference numbers: driver-recorded BENCH_r{N}.json files wrap the
    emitted JSON line under "parsed" (top level is run metadata), and
    until round 10 the loader only looked at the top level — the check
    silently compared against nothing. Pin that the latest same-SF
    extended timings load, and that a foreign SF yields none."""
    import importlib.util
    from pathlib import Path

    root = Path(__file__).resolve().parent.parent
    spec = importlib.util.spec_from_file_location("bench_mod", root / "bench.py")
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)

    prev = bench._previous_extended(0.1)
    assert prev, "no extended reference found in BENCH_r*.json at sf0.1"
    assert "q_graph_butterfly" in prev and prev["q_graph_butterfly"] > 0
    assert bench._previous_extended(123.456) == {}


def test_python_source_filter_pushdown(spark):
    """Filter pushdown into the custom Python connector: with the
    pushdown conf on, an EqualTo('status') predicate is absorbed by
    the reader (generation-time skip; the post-scan Filter keeps only
    the isnotnull residual) and the result matches the non-pushdown
    source filtered by Spark."""
    from steaminganalysis_spark.sources.pysource import (
        register_ledger_pushdown_source,
        register_ledger_source,
    )

    register_ledger_source(spark)
    register_ledger_pushdown_source(spark)
    conf_key = "spark.sql.python.filterPushdown.enabled"
    prev = spark.conf.get(conf_key, "false")
    spark.conf.set(conf_key, "true")
    try:
        pushed = (
            spark.read.format("sa_ledger_pd").load().filter("status = 'paid'")
        )
        plain = spark.read.format("sa_ledger").load().filter("status = 'paid'")
        got = {tuple(r) for r in pushed.collect()}
        exp = {tuple(r) for r in plain.collect()}
        assert got == exp and len(got) > 0
        plan = pushed._jdf.queryExecution().executedPlan().toString()
        # the equality predicate was absorbed: no post-scan status=paid
        assert "= paid" not in plan and "isnotnull" in plan
    finally:
        spark.conf.set(conf_key, prev)


def test_python_datasource_writer_commit_protocol(spark, tmp_path):
    """The sa_ledger connector's WRITE half (DataSource API two-phase
    commit): executors write uniquely-named task files, the driver's
    commit atomically publishes a manifest naming exactly the
    successful tasks' files, and the manifest-honoring reader sees the
    committed rows — and ONLY them: a stray uncommitted file in the
    directory is invisible."""
    import os

    from pyspark.sql import functions as F

    from steaminganalysis_spark.sources.pysource import (
        read_ledger_output,
        register_ledger_source,
    )

    register_ledger_source(spark)
    out = str(tmp_path / "ledger_out")
    df = spark.read.format("sa_ledger").option("n_rows", "300").load()
    df.write.format("sa_ledger").option("path", out).mode("append").save()

    with open(os.path.join(out, "part-stray-uncommitted.json"), "w") as f:
        f.write('{"order_id": 999999, "day": "x", "amount_cents": 1, "status": "paid"}\n')

    schema = "order_id long, day string, amount_cents long, status string"
    back = read_ledger_output(spark, out, schema)
    assert back.count() == 300
    assert back.filter(F.col("order_id") == 999999).count() == 0
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))


def test_python_datasource_stream_writer_replay_idempotent(spark, tmp_path):
    """The streaming sink's per-batch manifest protocol: a REPLAYED
    batch id (crash between sink write and checkpoint commit) replaces
    its own manifest atomically, so the read-back sees the replay's
    files exactly once — never the orphaned first attempt, never both.
    Stray uncommitted task files stay invisible."""
    import json
    import os

    from steaminganalysis_spark.sources.pysource import (
        LedgerStreamWriter,
        _LedgerCommit,
        read_ledger_stream_output,
    )

    out = str(tmp_path / "stream_out")
    os.makedirs(out)

    def task_file(name: str, order_ids: list[int]) -> _LedgerCommit:
        from steaminganalysis_spark.sources.pysource import ledger_row

        with open(os.path.join(out, name), "w") as f:
            for oid in order_ids:
                oid_, day, cents, status = ledger_row(oid)
                f.write(json.dumps({
                    "order_id": oid_, "day": day,
                    "amount_cents": cents, "status": status,
                }) + "\n")
        return _LedgerCommit(name, len(order_ids))

    w = LedgerStreamWriter({"path": out})
    # batch 0 first attempt: files written, commit happens
    w.commit([task_file("part-b0-try1.json", [0, 1, 2])], batchId=0)
    # crash before checkpoint commit -> batch 0 REPLAYS with new files
    w.commit([task_file("part-b0-try2.json", [0, 1, 2])], batchId=0)
    # batch 1 commits normally; one of its tasks failed and aborted
    aborted = task_file("part-b1-failed.json", [99])
    w.abort([aborted, None], batchId=1)
    w.commit([task_file("part-b1-ok.json", [3, 4])], batchId=1)
    # a stray never-reported file appears (torn task, no commit message)
    task_file("part-stray.json", [98])

    schema = "order_id long, day string, amount_cents long, status string"
    back = read_ledger_stream_output(spark, out, schema)
    got = sorted(r["order_id"] for r in back.collect())
    assert got == [0, 1, 2, 3, 4]  # each batch once; no 98, no 99
    assert not os.path.exists(os.path.join(out, "part-b1-failed.json"))


def test_sql_body_udf_inlines_no_python(spark):
    """SQL-body functions must inline: the plan contains no Python
    eval operator of any kind — the calls are resolved into plain
    expressions at analysis time."""
    from steaminganalysis_spark.registry import collect_queries

    QUERIES, _ = collect_queries()
    df = QUERIES["q_udf_sql_body"](spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan and "PythonUDF" not in plan
