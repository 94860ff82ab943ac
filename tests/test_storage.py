"""Storage-layout tests: bucketed co-located joins (the zero-shuffle
plan that amortizes one write-time shuffle over every downstream join),
partitioned writes with partition pruning, and CSV/ORC readers."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from steaminganalysis_spark.operators.storage import (
    bucketed_join,
    write_bucketed,
    write_partitioned_by_day,
)
from steaminganalysis_spark.plans import count_exchanges, physical_plan
from steaminganalysis_spark.sources import load
from tests.conftest import SF_DIR


def test_bucketed_join_has_zero_exchanges(spark):
    li = load(spark, SF_DIR, "lineitem").select("l_orderkey", "l_quantity")
    o = load(spark, SF_DIR, "orders").select("o_orderkey", "o_orderpriority")
    write_bucketed(spark, li, "li_b", "l_orderkey", sort_col="l_orderkey")
    write_bucketed(spark, o, "o_b", "o_orderkey", sort_col="o_orderkey")

    joined = bucketed_join(spark, "li_b", "o_b", "l_orderkey", "o_orderkey")
    plan = physical_plan(joined)
    assert "SortMergeJoin" in plan
    # the whole point: co-bucketed sides need NO shuffle
    assert count_exchanges(joined) == 0, plan

    # and it computes the same thing as the shuffle join
    expect = li.join(o, li.l_orderkey == o.o_orderkey).count()
    assert joined.count() == expect


def test_bucketed_aggregation_has_zero_exchanges(spark):
    # bucketing helps group-bys on the bucket key too, not just joins
    write_bucketed(
        spark,
        load(spark, SF_DIR, "lineitem").select("l_orderkey", "l_quantity"),
        "li_b2",
        "l_orderkey",
    )
    agg = spark.table("li_b2").groupBy("l_orderkey").agg(F.sum("l_quantity"))
    assert count_exchanges(agg) == 0


def test_partitioned_write_prunes_partitions(spark, tmp_path):
    ev = load(spark, SF_DIR, "events")
    path = str(tmp_path / "events_by_day")
    write_partitioned_by_day(ev, path)
    # day dirs exist
    days = [d for d in os.listdir(path) if d.startswith("day=")]
    assert len(days) > 1

    one_day = sorted(days)[0].removeprefix("day=")
    df = spark.read.parquet(path).filter(F.col("day") == one_day)
    plan = physical_plan(df)
    # partition filter reaches the scan: only one partition is read
    assert "PartitionFilters" in plan
    got = df.count()
    expect = ev.filter(F.date_format("ts", "yyyy-MM-dd") == one_day).count()
    assert got == expect > 0


def test_compact_reduces_file_count_preserves_rows(spark, tmp_path):
    from steaminganalysis_spark.operators.storage import compact

    li = load(spark, SF_DIR, "lineitem")
    fragmented = str(tmp_path / "fragmented")
    li.repartition(37).write.parquet(fragmented)  # simulate small files
    n_small = len([f for f in os.listdir(fragmented) if f.endswith(".parquet")])
    assert n_small == 37

    compacted = str(tmp_path / "compacted")
    n_files = compact(spark, fragmented, compacted, target_files=2)
    assert n_files == 2
    assert spark.read.parquet(compacted).count() == li.count()

    # sorted compaction: files are range-partitioned on the sort key
    sorted_path = str(tmp_path / "sorted")
    n_files = compact(
        spark, fragmented, sorted_path, target_files=2, sort_cols=["l_orderkey"]
    )
    assert n_files == 2
    df = spark.read.parquet(sorted_path)
    assert df.count() == li.count()


def test_schema_evolution_merge_read(spark, tmp_path):
    """Schema evolution: a v2 writer adds a column; mergeSchema reads
    v1+v2 together with NULLs for the missing column — no rewrite of old
    data, the way a long-lived 100 TB dataset actually evolves."""
    path = str(tmp_path / "evolving")
    spark.createDataFrame(
        [(1, "a"), (2, "b")], "id long, name string"
    ).write.parquet(path + "/v=1")
    spark.createDataFrame(
        [(3, "c", 9.5)], "id long, name string, score double"
    ).write.parquet(path + "/v=2")

    df = spark.read.option("mergeSchema", "true").parquet(path)
    assert set(df.columns) == {"id", "name", "score", "v"}
    rows = {r.id: (r.name, r.score) for r in df.collect()}
    assert rows == {1: ("a", None), 2: ("b", None), 3: ("c", 9.5)}


def test_hll_sketch_estimates_within_tolerance(spark):
    from steaminganalysis_spark.registry import collect_queries

    Q, _ = collect_queries()
    rows = {
        r["event_type"]: r["est_users"]
        for r in Q["q_agg_hll_sketch"](spark, SF_DIR).collect()
    }
    ev = load(spark, SF_DIR, "events")
    exact = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    exact["__all__"] = ev.select("user_id").distinct().count()
    assert set(rows) == set(exact)
    for k, est in rows.items():
        assert est == pytest.approx(exact[k], rel=0.05), (k, est, exact[k])


@pytest.mark.parametrize(
    "sf_dir", ["/root/testdata/sf0.01", "/root/testdata/sf0.1"]
)
def test_theta_sketch_exact_mode_precondition(spark, sf_dir):
    """q_agg_theta_sketch's oracle is the EXACT set-algebra SQL, valid
    only while every cohort stays under the sketch's 2^lgK exact-mode
    ceiling. Pin the precondition (so a fixture regen that crosses the
    ceiling fails loudly) and the set-algebra values themselves against
    exact DataFrame computation."""
    from steaminganalysis_spark.operators.aggregates import _THETA_LG_K
    from steaminganalysis_spark.registry import collect_queries

    Q, _ = collect_queries()
    ev = load(spark, sf_dir, "events")
    total_users = ev.select("user_id").distinct().count()
    assert total_users < 2**_THETA_LG_K, (
        f"{total_users} distinct users >= 2^{_THETA_LG_K}: theta "
        "estimates leave exact mode and the exact oracle is invalid"
    )
    rows = {r.cohort: r.n_users for r in Q["q_agg_theta_sketch"](spark, sf_dir).collect()}
    p = {r.user_id for r in ev.filter("event_type = 'purchase'").select("user_id").distinct().collect()}
    c = {r.user_id for r in ev.filter("event_type = 'click'").select("user_id").distinct().collect()}
    assert rows["purchase&click"] == len(p & c)
    assert rows["purchase|click"] == len(p | c)
    assert rows["click-purchase"] == len(c - p)
    assert rows["type:purchase"] == len(p)


def test_scan_binary_matches_document_bytes(spark):
    """The binaryFile scan must surface exactly the exported files with
    correct sizes and content hashes (recomputed in Python)."""
    import hashlib

    from steaminganalysis_spark.registry import collect_queries
    from steaminganalysis_spark.sources import load

    QUERIES, _ = collect_queries()
    sf = "/root/testdata/sf0.001"
    got = {r.fname: (r.length, r.content_md5)
           for r in QUERIES["q_scan_binary"](spark, sf).collect()}
    docs = load(spark, sf, "documents").filter("doc_id < 20").collect()
    assert len(got) == len(docs)
    for d in docs:
        raw = d.text.encode("utf-8")
        assert got[f"doc_{d.doc_id:04d}.bin"] == (
            len(raw), hashlib.md5(raw).hexdigest()
        )


def test_registered_compaction_invariants(spark):
    """The registered compaction query must report full row
    preservation, the requested file reduction, and disjoint per-file
    sort ranges."""
    from steaminganalysis_spark.registry import collect_queries

    QUERIES, _ = collect_queries()
    r = QUERIES["q_compact_small_files"](spark, "/root/testdata/sf0.001").collect()[0]
    assert r.files_before == 64 and r.files_after == 4
    assert r.rows_before == r.rows_after
    assert r.sorted_disjoint


def test_table_staging_matches_local(spark):
    """SPARK_GRAFT_STAGING=table (durable bucketed-table staging — the
    cluster deployment mode; localCheckpoint blocks die with executor
    loss) must produce byte-identical results to the default local
    mode on the staged-self-join operators."""
    import os

    from steaminganalysis_spark.registry import collect_queries

    QUERIES, _ = collect_queries()
    sf = "/root/testdata/sf0.001"
    for name in (
        "q_dedup_ngram_jaccard",
        "q_dedup_containment",
        "q_quality_lm_score",
        "q_dsir_score",
        "q_bpe_encode",
    ):
        local = sorted(map(tuple, QUERIES[name](spark, sf).collect()))
        os.environ["SPARK_GRAFT_STAGING"] = "table"
        try:
            table = sorted(map(tuple, QUERIES[name](spark, sf).collect()))
        finally:
            del os.environ["SPARK_GRAFT_STAGING"]
        assert table == local, name


def test_zorder_layout_locality(spark):
    """The Z-clustered layout must preserve rows and checksums exactly
    and shrink the mean per-file span of BOTH clustering dimensions
    well below the naive layout's (which spans ~the full range in
    every file) — the property that makes min/max row-group skipping
    work on either predicate at scale."""
    from steaminganalysis_spark.registry import collect_queries

    QUERIES, _ = collect_queries()
    r = QUERIES["q_zorder_layout"](spark, "/root/testdata/sf0.01").first()
    assert r.rows_before == r.rows_after
    assert r.cents_naive == r.cents_zorder
    # naive files span essentially the whole range on both dims
    assert r.naive_user_span > 0.9 and r.naive_hour_span > 0.9
    # z files are substantially narrower on BOTH dims at once (16
    # files = 4 curve cuts = each dim quartered in expectation)
    assert r.zorder_user_span < 0.5 * r.naive_user_span
    assert r.zorder_hour_span < 0.5 * r.naive_hour_span


def test_registered_dynamic_partition_overwrite_invariants(spark):
    """The registered dynamic-overwrite op's verification row: only
    the two backfilled day partitions rewrote (every other day's file
    list identical), the replaced rows carry the new value, and the
    total row count is preserved."""
    from steaminganalysis_spark.registry import collect_queries

    QUERIES, _ = collect_queries()
    r = QUERIES["q_partition_overwrite_dynamic"](spark, SF_DIR).first()
    assert r.days_total > r.days_touched == 2
    assert r.untouched_dirs_stable
    assert r.replaced_rows_updated
    assert r.rows_after == r.rows_before
    assert 0 < r.touched_rows < r.rows_before


def test_static_partition_overwrite_drops_other_days(spark, tmp_path):
    """The contrast that motivates the op: STATIC overwrite mode (the
    default) replaces the WHOLE table with the backfill frame — every
    untouched day partition is deleted. Pinning the hazard documents
    why production backfills must use dynamic mode."""
    ev = load(spark, SF_DIR, "events").select(
        "event_id", F.date_format("ts", "yyyy-MM-dd").alias("day")
    )
    path = str(tmp_path / "t")
    ev.write.partitionBy("day").parquet(path)
    days = sorted(r["day"] for r in ev.select("day").distinct().collect())
    upd = ev.filter(F.col("day") == days[0])
    (
        upd.write.mode("overwrite")
        .option("partitionOverwriteMode", "static")
        .partitionBy("day")
        .parquet(path)
    )
    left = {
        r["day"]
        for r in spark.read.parquet(path)
        .select(F.col("day").cast("string").alias("day"))  # partition col infers as DATE
        .distinct()
        .collect()
    }
    assert left == {days[0]}  # everything else is gone — the footgun


def test_file_metadata_attribution_matches_duckdb(spark, tmp_path):
    """Per-file row attribution must agree between Spark's _metadata
    column and DuckDB's filename=true over a genuinely multi-file
    directory — the provenance contract incremental pipelines rely
    on."""
    import duckdb

    path = str(tmp_path / "multi")
    load(spark, SF_DIR, "events").select("event_id", "user_id").repartition(
        6
    ).write.parquet(path)
    got = {
        (r["fn"], r["n"])
        for r in spark.read.parquet(path)
        .groupBy(F.col("_metadata.file_name").alias("fn"))
        .agg(F.count("*").alias("n"))
        .collect()
    }
    exp = set(
        duckdb.sql(
            f"SELECT parse_filename(filename) AS fn, COUNT(*) AS n "
            f"FROM read_parquet('{path}/*.parquet', filename=true) GROUP BY 1"
        ).fetchall()
    )
    assert got == exp and len(got) == 6


def test_registered_schema_evolution_invariants(spark):
    """q_scan_schema_evolution (rows-only): the merged read preserves
    every row, the evolved column's nulls are exactly the old-
    generation rows, and the merged schema is the union of both
    generations'."""
    from steaminganalysis_spark.registry import QUERIES

    row = QUERIES["q_scan_schema_evolution"](spark, "/root/testdata/sf0.001").collect()[0]
    assert row["rows_preserved"] and row["nulls_confined_to_gen0"]
    assert row["total_rows"] == row["gen0_rows"] + row["gen1_scored_rows"]
    assert row["merged_schema"] == "doc_id,n_chars,quality_score,source"


def test_mv_incremental_delta_filter_pushed_and_merge_cardinality(spark):
    """The refresh must push the ts cutoff into the parquet scan (at
    scale that is the partition prune keeping refresh cost
    delta-sized) and merge at aggregate cardinality — every (day,
    type) key appears exactly once after the full-outer combine."""
    from steaminganalysis_spark.plans import assert_filter_pushed
    from steaminganalysis_spark.registry import collect_queries

    QUERIES, _ = collect_queries()
    df = QUERIES["q_mv_incremental"](spark, "/root/testdata/sf0.001")
    assert_filter_pushed(df, "ts")
    rows = df.collect()
    keys = [(r.day, r.event_type) for r in rows]
    assert len(keys) == len(set(keys))


def test_cluster_incremental_invariants(spark):
    """The Liquid-clustering economics in one row: only delta files
    rewrite (amplification exactly 1.0, base files byte-untouched),
    rows + checksum preserved, locality restored under the span bound,
    and the pass is idempotent (a second classification finds zero
    candidates)."""
    from steaminganalysis_spark.operators.storage import CLUSTER_SPAN_FRAC_MAX
    from steaminganalysis_spark.registry import collect_queries

    QUERIES, _ = collect_queries()
    r = QUERIES["q_cluster_incremental"](spark, "/root/testdata/sf0.001").collect()[0]
    assert r.rows_final == r.rows_src
    assert r.checksum_preserved
    assert r.base_untouched
    assert r.rewrite_amplification == 1.0
    assert r.rows_rewritten == r.rows_appended
    assert r.max_span_before > CLUSTER_SPAN_FRAC_MAX  # deltas were dirty
    assert r.max_span_after <= CLUSTER_SPAN_FRAC_MAX  # ...and are not now
    assert r.second_pass_candidates == 0  # idempotent / convergent
    assert r.files_rewritten >= 1


def test_snapshot_manifest_contract(spark):
    """The manifest commit protocol's load-bearing properties, pinned
    directly against the helpers: (a) a snapshot read plans ONLY the
    manifest's files — an orphan data file in data/ is invisible; (b)
    appends never mutate an old snapshot (v0 re-read byte-identical
    after the v1 commit); (c) an uncommitted version raises, from
    every reader that takes a version; (d) the latest-committed
    resolution ignores in-progress manifests; (e) a committed version
    is never replaced — a second commit at it raises and leaves its
    manifest byte-identical."""
    import os

    import pytest as _pytest

    from steaminganalysis_spark.operators.storage import (
        _snap_add_files,
        _snap_commit,
        _snap_read,
        snap_agg_pushdown,
        snap_agg_pushdown_bitmap,
        snap_agg_pushdown_dv,
        snap_metadata_files,
        snap_ndv_estimates,
        snap_read_manifest_list,
        snap_read_null_pruned,
        snap_read_transform_pruned,
    )
    from steaminganalysis_spark.scratch import scratch_dir

    table = f"{scratch_dir('snaptest')}/t"
    df0 = spark.range(100).selectExpr("id", "id * 2 AS v")
    f0 = _snap_add_files(df0, table, "snaptest_b")
    _snap_commit(table, f0, 0)
    v0_before = sorted(map(tuple, _snap_read(spark, table, 0).collect()))

    v0_path = os.path.join(table, "manifests", "v0.json")
    with open(v0_path, "rb") as fh:
        v0_bytes = fh.read()
    with _pytest.raises(FileExistsError):
        _snap_commit(table, ["b.parquet"], 0)
    with open(v0_path, "rb") as fh:
        assert fh.read() == v0_bytes
    for read in (
        lambda: snap_read_transform_pruned(spark, table, version=7),
        lambda: snap_ndv_estimates(table, version=7),
        lambda: snap_metadata_files(spark, table, version=7),
        lambda: snap_read_manifest_list(spark, table, ["x"], version=7),
        lambda: snap_agg_pushdown(table, ["id"], version=7),
        lambda: snap_agg_pushdown_dv(table, ["id"], version=7),
        lambda: snap_read_null_pruned(spark, table, "v", True, version=7),
        lambda: snap_agg_pushdown_bitmap(table, ["id"], version=7),
    ):
        with _pytest.raises(ValueError, match="not committed"):
            read()

    f1 = _snap_add_files(
        spark.range(100, 150).selectExpr("id", "id * 2 AS v"), table, "snaptest_d"
    )
    _snap_commit(table, f0 + f1, 1)
    # orphan + torn manifest on disk
    _snap_add_files(spark.range(7).selectExpr("id", "id AS v"), table, "snaptest_o")
    with open(os.path.join(table, "manifests", ".v9.json.inprogress"), "w") as fh:
        fh.write("{")

    assert sorted(map(tuple, _snap_read(spark, table, 0).collect())) == v0_before
    latest = _snap_read(spark, table)  # resolves v1, not the torn v9
    assert latest.count() == 150  # orphan's 7 rows invisible
    with _pytest.raises(ValueError, match="not committed"):
        _snap_read(spark, table, 9)


def test_cas_commit_thread_race_and_loser_invisibility(spark):
    """The CAS commit primitive under REAL concurrency: N threads race
    optimistic appends against one table; every append must land
    exactly once, versions must be contiguous, and no loser attempt
    may leave a visible manifest or temp file. Deterministic in
    outcome (content) though not in winner order — the property the
    protocol guarantees."""
    import json
    import os
    import threading

    from steaminganalysis_spark.operators.storage import (
        _snap_add_files,
        _snap_commit,
        _snap_commit_cas,
        _snap_doc,
        _snap_read,
        snap_append_optimistic,
    )
    from steaminganalysis_spark.scratch import scratch_dir

    table = f"{scratch_dir('castest')}/t"
    f0 = _snap_add_files(spark.range(100).selectExpr("id", "id AS v"), table, "c0")
    _snap_commit(table, f0, 0)

    n_writers = 6
    file_sets = [
        _snap_add_files(
            spark.range(1000 * (i + 1), 1000 * (i + 1) + 10).selectExpr(
                "id", "id AS v"
            ),
            table,
            f"cw{i}",
        )
        for i in range(n_writers)
    ]
    barrier = threading.Barrier(n_writers)
    results = [None] * n_writers

    def writer(i):
        barrier.wait()  # maximize contention
        results[i] = snap_append_optimistic(table, file_sets[i])

    threads = [threading.Thread(target=writer, args=(i,)) for i in range(n_writers)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()

    # contiguous versions 1..N, one per writer
    assert sorted(results) == list(range(1, n_writers + 1)), results
    v, doc = _snap_doc(table)
    assert v == n_writers
    # every append present exactly once in the final manifest
    expected = sorted(f0 + [f for fs in file_sets for f in fs])
    assert sorted(doc["files"]) == expected
    # and in the data: 100 base + 6*10 appended rows
    assert _snap_read(spark, table).count() == 100 + 10 * n_writers
    # each intermediate manifest is a superset chain (no lost appends)
    prev = set(f0)
    for ver in range(1, n_writers + 1):
        cur = set(
            json.loads(
                open(os.path.join(table, "manifests", f"v{ver}.json")).read()
            )["files"]
        )
        assert prev < cur, ver
        prev = cur
    # no temp files left behind by losers
    leftovers = [
        f for f in os.listdir(os.path.join(table, "manifests"))
        if f.endswith(".inprogress")
    ]
    assert leftovers == []
    # direct CAS loser: stale list, same version -> False, no mutation
    before = sorted(os.listdir(os.path.join(table, "manifests")))
    assert not _snap_commit_cas(table, f0, n_writers)
    assert sorted(os.listdir(os.path.join(table, "manifests"))) == before


def test_vacuum_shared_file_safety_and_merge_amplification(spark):
    """(a) VACUUM reference counting: a data file in BOTH an expired
    and a retained manifest survives; files referenced only by expired
    manifests (and orphans) are deleted; retaining an uncommitted
    version raises. (b) MERGE rewrite amplification: the registered
    merge key's file classification must rewrite only span-matched
    files — proxied here at helper grain by checking spans really are
    disjoint under repartitionByRange + that an untouched file's bytes
    survive a merge-shaped rewrite-and-commit cycle."""
    import os

    import pytest as _pytest

    from steaminganalysis_spark.operators.storage import (
        _snap_add_files,
        _snap_commit,
        _snap_read,
        snap_expire,
    )
    from steaminganalysis_spark.scratch import scratch_dir

    table = f"{scratch_dir('vactest')}/t"
    shared = _snap_add_files(spark.range(50).selectExpr("id", "id AS v"), table, "s")
    only_old = _snap_add_files(
        spark.range(50, 80).selectExpr("id", "id AS v"), table, "o"
    )
    _snap_commit(table, shared + only_old, 0)
    rewritten = _snap_add_files(
        spark.range(50, 80).selectExpr("id", "id * 2 AS v"), table, "r"
    )
    _snap_commit(table, shared + rewritten, 1)
    orphan = _snap_add_files(spark.range(5).selectExpr("id", "id AS v"), table, "x")

    with _pytest.raises(ValueError, match="uncommitted"):
        snap_expire(table, retain=[1, 7])

    # writers quiesced in this harness: grace 0.0 sweeps the orphan
    record = snap_expire(table, retain=[1], orphan_grace_seconds=0.0)
    assert record["manifests_removed"] == [0]
    assert sorted(record["files_removed"]) == sorted(only_old + orphan)
    ddir = os.path.join(table, "data")
    assert all(os.path.exists(os.path.join(ddir, f)) for f in shared)
    assert _snap_read(spark, table).count() == 80  # 50 shared + 30 rewritten

    # (a2) concurrent-writer safety (ADVICE r12): an unreferenced file
    # younger than the grace period is NOT an orphan yet — it may be
    # staged by an in-flight optimistic append whose CAS has not
    # landed. Default grace keeps it; the removal record says so.
    staged = _snap_add_files(
        spark.range(3).selectExpr("id", "id AS v"), table, "staged"
    )
    record2 = snap_expire(table, retain=[1])  # default grace 600 s
    assert record2["files_removed"] == []
    assert record2["unreferenced_kept_in_grace"] == len(staged)
    assert all(os.path.exists(os.path.join(ddir, f)) for f in staged)
    # ... and a manifest committed between listing and sweep keeps its
    # files: commit the staged files, then expire with grace 0 — the
    # delete-time re-list sees v2 and keeps them even though the
    # caller's retain list predates it.
    from steaminganalysis_spark.operators.storage import _snap_doc

    v1, d1 = _snap_doc(table)
    _snap_commit(table, d1["files"] + staged, v1 + 1)
    record3 = snap_expire(table, retain=[1], orphan_grace_seconds=0.0)
    assert record3["files_removed"] == []  # staged now referenced by v2
    assert all(os.path.exists(os.path.join(ddir, f)) for f in staged)

    # (b) range-clustered spans are disjoint -> merge prunes correctly
    from pyspark.sql import functions as F

    t2 = f"{scratch_dir('vactest')}/t2"
    files = _snap_add_files(
        spark.range(1000).selectExpr("id AS event_id", "CAST(id AS DOUBLE) AS value")
        .repartitionByRange(4, "event_id"),
        t2,
        "m",
    )
    _snap_commit(t2, files, 0)
    spans = sorted(
        (r.lo, r.hi)
        for r in _snap_read(spark, t2, 0)
        .select(F.input_file_name().alias("f"), "event_id")
        .groupBy("f")
        .agg(F.min("event_id").alias("lo"), F.max("event_id").alias("hi"))
        .collect()
    )
    assert len(spans) == 4
    for (_lo_prev, hi_prev), (lo, _hi) in zip(spans, spans[1:]):
        assert hi_prev < lo  # disjoint -> span-pruning is exact


def test_pruned_read_superset_safety_and_stats_roundtrip(spark):
    """Data-skipping pins: (a) a pruned read NEVER loses rows vs the
    full read + predicate, whatever the range (superset safety,
    boundary-inclusive); (b) manifest stats round-trip the parquet
    footer exactly; (c) a file committed WITHOUT stats is always
    planned (correctness never depends on stats presence)."""
    import pyarrow.parquet as pq

    from pyspark.sql import functions as F

    from steaminganalysis_spark.operators.storage import (
        _snap_add_files,
        _snap_add_files_with_stats,
        _snap_commit,
        snap_read_pruned,
    )
    from steaminganalysis_spark.scratch import scratch_dir

    table = f"{scratch_dir('prunetest')}/t"
    df = spark.range(1000).selectExpr("id AS k", "id * 2 AS v")
    files, stats = _snap_add_files_with_stats(
        df.repartitionByRange(4, "k"), table, "pb", ["k"]
    )
    # one extra file with NO stats recorded
    extra = _snap_add_files(
        spark.range(5000, 5100).selectExpr("id AS k", "id * 2 AS v").coalesce(1),
        table,
        "pn",
    )
    _snap_commit(table, files + extra, 0, stats=stats)

    import os

    ddir = os.path.join(table, "data")
    for f, st in stats.items():
        md = pq.ParquetFile(os.path.join(ddir, f)).metadata
        ci = {md.schema.column(i).name: i for i in range(md.num_columns)}["k"]
        lo = min(md.row_group(g).column(ci).statistics.min
                 for g in range(md.num_row_groups))
        hi = max(md.row_group(g).column(ci).statistics.max
                 for g in range(md.num_row_groups))
        assert st["k"] == [lo, hi], (f, st, lo, hi)

    for lo, hi in [(0, 0), (249, 250), (999, 999), (100, 900), (2000, 3000)]:
        frame, planned, total = snap_read_pruned(spark, table, "k", lo, hi)
        got = sorted(
            r.k for r in frame.filter(F.col("k").between(lo, hi)).collect()
        )
        assert got == list(range(max(lo, 0), min(hi, 999) + 1)), (lo, hi)
        assert set(extra) <= set(planned), "stats-less file was pruned"
        assert total == 5


def test_schema_evolution_commit_validation_and_time_travel(spark):
    """Manifest-schema pins, at helper grain: (a) a commit validates
    appended files' FOOTER schemas — undeclared columns and type
    conflicts reject with the offending column named, and the failed
    commit leaves NO manifest (the in-progress temp never lands); (b)
    adding a column is metadata-only — the pre-evolution data file's
    bytes are untouched; (c) the evolved read NULL-fills old rows and
    serves columns in DECLARED order; (d) time travel to v0 serves the
    original schema; (e) a rogue column present in a data file but
    not in the schema cannot leak into the read surface."""
    import os

    import pytest as _pytest
    from pyspark.sql import functions as F

    from steaminganalysis_spark.operators.storage import (
        _snap_add_files,
        _snap_commit_schema,
        _snap_read_schema,
    )
    from steaminganalysis_spark.scratch import scratch_dir

    table = f"{scratch_dir('evotest')}/t"
    v0_schema = [("k", "int64"), ("v", "double")]
    f0 = _snap_add_files(
        spark.range(100).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v").coalesce(1),
        table,
        "e0",
    )
    _snap_commit_schema(table, f0, 0, v0_schema, new_files=f0)
    ddir = os.path.join(table, "data")
    base_meta = (
        os.path.getsize(os.path.join(ddir, f0[0])),
        os.path.getmtime(os.path.join(ddir, f0[0])),
    )

    # (a) rejections name the offending column; no manifest lands
    rogue = _snap_add_files(
        spark.range(5).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v", "'x' AS extra"),
        table,
        "er",
    )
    with _pytest.raises(ValueError, match="extra"):
        _snap_commit_schema(table, f0 + rogue, 1, v0_schema, new_files=rogue)
    bad = _snap_add_files(
        spark.range(5).selectExpr("id AS k", "CAST(id AS STRING) AS v"), table, "eb"
    )
    with _pytest.raises(ValueError, match="v"):
        _snap_commit_schema(table, f0 + bad, 1, v0_schema, new_files=bad)
    assert not os.path.exists(os.path.join(table, "manifests", "v1.json"))
    assert not [
        f for f in os.listdir(os.path.join(table, "manifests"))
        if f.endswith(".inprogress")
    ]

    # (b)+(c) add-column evolution: metadata-only, NULL-filled reads
    v1_schema = v0_schema + [("tag", "string")]
    f1 = _snap_add_files(
        spark.range(100, 120).selectExpr(
            "id AS k", "CAST(id AS DOUBLE) AS v", "'new' AS tag"
        ).coalesce(1),
        table,
        "e1",
    )
    _snap_commit_schema(table, f0 + f1, 1, v1_schema, new_files=f1)
    assert (
        os.path.getsize(os.path.join(ddir, f0[0])),
        os.path.getmtime(os.path.join(ddir, f0[0])),
    ) == base_meta
    cur = _snap_read_schema(spark, table)
    assert cur.columns == ["k", "v", "tag"]
    assert cur.count() == 120
    assert cur.filter(F.col("tag").isNull()).count() == 100
    assert cur.filter(F.col("tag") == "new").count() == 20
    # (d) time travel serves the OLD schema
    assert _snap_read_schema(spark, table, 0).columns == ["k", "v"]
    # (e) a data-file column absent from the schema never leaks:
    # the rogue file's `extra` column is not in any read surface
    assert "extra" not in cur.columns


def test_partition_manifest_tuple_roundtrip_and_superset_safety(spark):
    """Partition-aware manifest pins: (a) tuples recorded at write
    time round-trip through the manifest and re-attach as identity
    columns at read (values equal the data they were derived from);
    (b) pruning on a column absent from a file's tuple keeps that
    file (superset safety — the spec-evolution contract); (c) a
    predicate value with no matching partition raises rather than
    silently returning an empty plan."""
    import pytest as _pytest

    from steaminganalysis_spark.operators.storage import (
        _snap_add_files_partitioned,
        _snap_commit_partitioned,
        snap_read_partition_pruned,
    )
    from steaminganalysis_spark.scratch import scratch_dir

    table = f"{scratch_dir('parttest')}/t"
    df = spark.range(100).selectExpr(
        "id",
        "CAST(id % 4 AS STRING) AS bucket",
        "CAST(id AS DOUBLE) AS v",
    )
    files, parts = _snap_add_files_partitioned(df, table, "pt", ["bucket"])
    _snap_commit_partitioned(table, files, 0, ["bucket"], parts)
    assert {p["bucket"] for p in parts.values()} == {"0", "1", "2", "3"}

    # (a) round-trip: the re-attached literal equals the derivation
    got, planned, total = snap_read_partition_pruned(
        spark, table, "bucket", {"1", "3"}
    )
    assert total == len(files) and 0 < len(planned) < total
    rows = got.selectExpr("id", "bucket").collect()
    assert rows and all(r.bucket == str(r.id % 4) for r in rows)
    assert {r.bucket for r in rows} == {"1", "3"}

    # (b) superset safety: prune on a column no tuple records
    _g, planned_all, _t = snap_read_partition_pruned(
        spark, table, "never_recorded", {"x"}
    )
    assert sorted(planned_all) == sorted(files)

    # (c) nothing planned -> loud
    with _pytest.raises(ValueError, match="no files planned"):
        snap_read_partition_pruned(spark, table, "bucket", {"9"})


def test_optimize_concurrent_thread_race(spark):
    """OPTIMIZE vs APPEND under a real thread race: an appender
    committing 5 appends races a compactor collapsing the 4 initial
    small files; disjoint sources mean the compaction must commute
    with every append — both writers land, versions stay contiguous,
    no file is lost, and the final row set is exact. Plus the
    overlap arm at helper grain: a compactor whose source vanished
    mid-flight raises SnapCompactConflict and leaves nothing
    visible."""
    import threading

    import pytest as _pytest

    from steaminganalysis_spark.operators.storage import (
        SnapCompactConflict,
        _snap_add_files,
        _snap_commit,
        _snap_doc,
        _snap_read,
        snap_append_optimistic,
        snap_compact_optimistic,
    )
    from steaminganalysis_spark.scratch import scratch_dir

    table = f"{scratch_dir('optrace')}/t"
    base = _snap_add_files(
        spark.range(400).selectExpr("id", "CAST(id AS DOUBLE) AS v")
        .repartition(4),
        table,
        "race_base",
    )
    _snap_commit(table, base, 0)
    # stage everything BEFORE the race so threads only commit
    compacted = _snap_add_files(
        _snap_read(spark, table).coalesce(1), table, "race_compact"
    )
    appends = [
        _snap_add_files(
            spark.range(400 + 50 * i, 450 + 50 * i).selectExpr(
                "id", "CAST(id AS DOUBLE) AS v"
            ),
            table,
            f"race_app{i}",
        )
        for i in range(5)
    ]
    barrier = threading.Barrier(2)
    errs: list[Exception] = []

    def appender():
        barrier.wait()
        try:
            for files in appends:
                snap_append_optimistic(table, files)
        except Exception as e:  # pragma: no cover - surfaced below
            errs.append(e)

    def compactor():
        barrier.wait()
        try:
            snap_compact_optimistic(table, base, compacted)
        except Exception as e:  # pragma: no cover - surfaced below
            errs.append(e)

    ts = [threading.Thread(target=appender), threading.Thread(target=compactor)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert not errs, errs
    v, doc = _snap_doc(table)
    assert v == 6  # v0 + 5 appends + 1 compaction, contiguous
    assert set(doc["files"]) == set(compacted) | {f for a in appends for f in a}
    got = _snap_read(spark, table)
    assert got.count() == 650
    assert got.select("id").distinct().count() == 650

    # overlap arm: source vanished -> conflict, nothing visible
    doomed = _snap_add_files(
        spark.range(5).selectExpr("id", "CAST(id AS DOUBLE) AS v"),
        table,
        "race_doomed",
    )
    with _pytest.raises(SnapCompactConflict):
        snap_compact_optimistic(table, [base[0]], doomed)
    v2, doc2 = _snap_doc(table)
    assert v2 == 6 and not set(doomed) & set(doc2["files"])


def test_dv_scoping_reinsert_and_rewrite_compaction(spark):
    """Merge-on-read DV pins at helper grain: (a) SCOPING — a DV pair
    applies only to the file name the manifest lists it for, so a
    later append re-inserting a deleted key in a NEW file survives
    the MoR read; (b) rewrite-compacts-DV — after a dense delete
    COWs a file, the replacement physically lacks the file's earlier
    scattered deletes and the manifest drops the stale scope; (c) a
    VACUUM keeps DV files referenced by live manifests (resurrection
    guard)."""
    from steaminganalysis_spark.operators.storage import (
        _snap_add_files_with_stats,
        _snap_commit,
        _snap_doc,
        snap_append_optimistic,
        snap_delete_optimistic,
        snap_expire,
        snap_read_mor,
    )
    from steaminganalysis_spark.scratch import scratch_dir

    table = f"{scratch_dir('dvtest')}/t"
    base_df = spark.range(200).selectExpr(
        "id AS event_id", "CAST(id AS DOUBLE) AS v"
    )
    files, stats = _snap_add_files_with_stats(
        base_df.repartitionByRange(4, "event_id")
        .sortWithinPartitions("event_id"),
        table,
        "dvt",
        ["event_id"],
    )
    _snap_commit(table, files, 0, stats=stats)

    # scattered delete (every 13th) -> DV everywhere
    rec = snap_delete_optimistic(
        spark, table, base_df.filter("event_id % 13 = 0"), "event_id"
    )
    assert not rec["cow_rewritten"] and rec["dv_files"]
    assert snap_read_mor(spark, table, "event_id").count() == 200 - 16

    # (a) re-insert key 13 in a NEW file: the DV must not apply to it
    new = _snap_add_files_with_stats(
        spark.createDataFrame([(13, 999.0)], "event_id long, v double"),
        table,
        "dvt_reinsert",
        ["event_id"],
    )[0]
    snap_append_optimistic(table, new)
    got = snap_read_mor(spark, table, "event_id")
    assert got.count() == 200 - 16 + 1
    assert got.filter("event_id = 13").count() == 1  # the re-insert only

    # (b) dense delete on the low file folds its DV into the rewrite
    rec2 = snap_delete_optimistic(
        spark, table, base_df.filter("event_id < 25"), "event_id"
    )
    assert rec2["cow_rewritten"]
    import os as _os

    ddir = _os.path.join(table, "data")
    rep = spark.read.parquet(
        *[_os.path.join(ddir, f) for f in rec2["cow_new_files"]]
    )
    assert rep.filter("event_id % 13 = 0 OR event_id < 25").count() == 0
    _v, doc = _snap_doc(table)
    assert all(f not in doc.get("dv", {}) for f in rec2["cow_rewritten"])
    # below 25: 23 base rows still present (0 and 13 were DV-deleted)
    # PLUS the re-inserted 13 in its own file — delete #2 correctly
    # takes it too (its 1-row file is 100% matched -> COW-removed)
    expect = 200 - 16 + 1 - (25 - 2) - 1
    assert snap_read_mor(spark, table, "event_id").count() == expect
    assert (
        snap_read_mor(spark, table, "event_id")
        .filter("event_id = 13")
        .count()
        == 0
    )

    # (c) VACUUM keeps referenced DV files
    v, _doc = _snap_doc(table)
    record = snap_expire(table, retain=[v], orphan_grace_seconds=0.0)
    assert not set(rec["dv_files"]) & set(record["files_removed"])
    assert snap_read_mor(spark, table, "event_id").count() == expect


def test_snap_diff_degenerate_arms(spark):
    """snap_diff pins: (a) identical versions -> empty diff with the
    _change_type column present; (b) pure append -> every row
    'insert', nothing read from shared files; (c) pure delete (a
    version that only drops a file) -> every dropped row 'delete';
    (d) copy-through cancellation — a file rewritten byte-identically
    under a NEW name produces an EMPTY diff (the boundary-row trap at
    helper grain); (e) uncommitted version raises."""
    import pytest as _pytest

    from steaminganalysis_spark.operators.storage import (
        _snap_add_files,
        _snap_commit,
        snap_diff,
    )
    from steaminganalysis_spark.scratch import scratch_dir

    table = f"{scratch_dir('difftest')}/t"
    a = _snap_add_files(
        spark.range(100).selectExpr("id", "CAST(id AS DOUBLE) AS v"),
        table,
        "df_a",
    )
    b = _snap_add_files(
        spark.range(100, 160).selectExpr("id", "CAST(id AS DOUBLE) AS v"),
        table,
        "df_b",
    )
    _snap_commit(table, a, 0)
    _snap_commit(table, a + b, 1)  # pure append
    _snap_commit(table, b, 2)  # pure delete of a's file

    assert snap_diff(spark, table, 1, 1, "id").count() == 0
    ins = snap_diff(spark, table, 0, 1, "id")
    assert ins.count() == 60
    assert {r._change_type for r in ins.collect()} == {"insert"}
    dels = snap_diff(spark, table, 1, 2, "id")
    assert dels.count() == 100
    assert {r._change_type for r in dels.collect()} == {"delete"}

    # (d) byte-equal rewrite under a new name -> empty diff
    import os as _os

    ddir = _os.path.join(table, "data")
    rewritten = _snap_add_files(
        spark.read.parquet(*[_os.path.join(ddir, f) for f in b]),
        table,
        "df_rw",
    )
    _snap_commit(table, rewritten, 3)
    assert snap_diff(spark, table, 2, 3, "id").count() == 0

    with _pytest.raises(ValueError, match="not committed"):
        snap_diff(spark, table, 0, 9, "id")


def test_wap_branch_race_and_orphan_invisibility(spark):
    """WAP pins: (a) two branches built from the SAME base publish
    concurrently — publish-publish races are append-shaped, both
    batches land exactly once, versions contiguous; (b) a dropped
    branch's staged files stay invisible to main forever and survive
    only until a grace-expired VACUUM; (c) publishing an unknown
    branch raises."""
    import threading

    import pytest as _pytest

    from steaminganalysis_spark.operators.storage import (
        _snap_add_files,
        _snap_commit,
        _snap_doc,
        _snap_read,
        snap_branch_commit,
        snap_branch_drop,
        snap_branch_publish,
        snap_expire,
        snap_read_branch,
    )
    from steaminganalysis_spark.scratch import scratch_dir

    table = f"{scratch_dir('waptest')}/t"
    base = _snap_add_files(
        spark.range(100).selectExpr("id", "CAST(id AS DOUBLE) AS v"),
        table,
        "wp_base",
    )
    _snap_commit(table, base, 0)
    a = _snap_add_files(
        spark.range(100, 150).selectExpr("id", "CAST(id AS DOUBLE) AS v"),
        table,
        "wp_a",
    )
    b = _snap_add_files(
        spark.range(150, 180).selectExpr("id", "CAST(id AS DOUBLE) AS v"),
        table,
        "wp_b",
    )
    snap_branch_commit(table, "ba", base + a)
    snap_branch_commit(table, "bb", base + b)
    assert snap_read_branch(spark, table, "ba").count() == 150
    assert _snap_read(spark, table).count() == 100  # branches invisible

    barrier = threading.Barrier(2)
    errs: list[Exception] = []

    def pub(name):
        barrier.wait()
        try:
            snap_branch_publish(table, name)
        except Exception as e:  # pragma: no cover - surfaced below
            errs.append(e)

    ts = [threading.Thread(target=pub, args=(n,)) for n in ("ba", "bb")]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert not errs, errs
    v, doc = _snap_doc(table)
    assert v == 2 and set(doc["files"]) == set(base + a + b)
    assert _snap_read(spark, table).count() == 180

    # (b) dropped branch: orphans invisible, swept only by VACUUM
    c = _snap_add_files(
        spark.range(180, 200).selectExpr("id", "CAST(id AS DOUBLE) AS v"),
        table,
        "wp_c",
    )
    snap_branch_commit(table, "bc", doc["files"] + c)
    snap_branch_drop(table, "bc")
    assert _snap_read(spark, table).count() == 180
    record = snap_expire(table, retain=[2], orphan_grace_seconds=0.0)
    assert set(c) <= set(record["files_removed"])

    # (c)
    with _pytest.raises(ValueError, match="no branch"):
        snap_branch_publish(table, "nope")


def test_restore_vacuum_interplay_and_txn_carry(spark):
    """RESTORE pins: (a) VACUUM after a restore keeps the restored
    (re-referenced) files and sweeps only the bad commit's — retain
    the restore version, expire the bad one; (b) restore carries the
    LATEST txn map, not the target's, so a streaming sink's replayed
    batch is still recognized after a rollback; (c) restoring an
    uncommitted version raises."""
    import pytest as _pytest

    from steaminganalysis_spark.operators.storage import (
        _snap_add_files,
        _snap_commit,
        _snap_commit_cas,
        _snap_doc,
        _snap_read,
        snap_expire,
        snap_restore,
    )
    from steaminganalysis_spark.scratch import scratch_dir

    table = f"{scratch_dir('rsttest')}/t"
    base = _snap_add_files(
        spark.range(100).selectExpr("id", "CAST(id AS DOUBLE) AS v"),
        table,
        "rs_base",
    )
    _snap_commit(table, base, 0)
    bad = _snap_add_files(
        spark.range(100).selectExpr("id", "CAST(id * 2 AS DOUBLE) AS v"),
        table,
        "rs_bad",
    )
    # the bad commit carries a streaming sink's txn watermark
    assert _snap_commit_cas(table, bad, 1, txn={"m": 7})
    v2 = snap_restore(table, 0)
    assert v2 == 2
    # (b) txn carried from latest (v1), not the target (v0 had none)
    _v, doc = _snap_doc(table)
    assert doc.get("txn", {}).get("m") == 7
    # (a) VACUUM: retain the restore, expire the bad line
    record = snap_expire(table, retain=[0, 2], orphan_grace_seconds=0.0)
    assert sorted(record["files_removed"]) == sorted(bad)
    assert _snap_read(spark, table).count() == 100
    import os as _os

    ddir = _os.path.join(table, "data")
    assert all(_os.path.exists(_os.path.join(ddir, f)) for f in base)
    # (c)
    with _pytest.raises(ValueError, match="not committed"):
        snap_restore(table, 9)


def test_two_level_pruning_superset_safety(spark):
    """Two-level skip pins at helper grain: (a) a file missing its
    partition tuple survives level 1 AND a file missing stats
    survives level 2 (independent superset safety — lazy adoption of
    either layer); (b) the counts nest: planned ⊆ level-1 survivors ⊆
    total; (c) empty plan is loud."""
    import pytest as _pytest

    from steaminganalysis_spark.operators.storage import (
        _parquet_file_stats,
        _snap_add_files_partitioned,
        _snap_commit_partitioned,
        snap_read_two_level,
    )
    from steaminganalysis_spark.scratch import scratch_dir

    import os as _os

    table = f"{scratch_dir('twolevel')}/t"
    df = spark.range(900).selectExpr(
        "id",
        "CAST(id % 3 AS STRING) AS bucket",
        "CAST(id AS DOUBLE) AS v",
    ).repartitionByRange(9, "id")
    files, parts = _snap_add_files_partitioned(df, table, "tl", ["bucket"])
    stats = {
        f: _parquet_file_stats(_os.path.join(table, "data", f), ["id"])
        for f in files
    }
    # (a) blind one file at EACH level
    blind_tuple = sorted(files)[0]
    blind_stats = sorted(files)[1]
    parts2 = {f: p for f, p in parts.items() if f != blind_tuple}
    stats2 = {f: s for f, s in stats.items() if s and f != blind_stats}
    _snap_commit_partitioned(
        table, files, 0, ["bucket"], parts2, stats=stats2
    )
    want_bucket = parts[blind_tuple]["bucket"]
    other = {b for b in ("0", "1", "2") if b != want_bucket}
    # call A: L1 active (bucket predicate EXCLUDING blind_tuple's true
    # bucket), L2 inert (full range) — the tuple-blind file survives
    got, planned, total, after_part = snap_read_two_level(
        spark, table, "bucket", other, "id", 0, 899
    )
    assert blind_tuple in planned  # no tuple -> conservatively planned
    assert after_part < total  # L1 pruned the named-bucket files
    assert len(planned) == after_part  # L2 inert at full range
    # call B: L1 inert (all buckets), L2 active (narrow range) — the
    # stats-blind file survives, some stats-known file prunes
    _g2, planned2, total2, after2 = snap_read_two_level(
        spark, table, "bucket", {"0", "1", "2"}, "id", 0, 10
    )
    assert blind_stats in planned2  # no stats -> conservatively planned
    assert after2 == total2  # L1 inert
    assert len(planned2) < after2  # L2 pruned
    assert len(planned) <= after_part <= total

    # the id range must be DISJOINT from all data ([0, 899]): the
    # tuple-blind file always survives L1, so an in-data range can
    # plan it whenever the uuid-random blind pick lands on a low-range
    # file (a ~1-in-9 flake, observed in the r13 freeze suite) — only
    # L2 can prune it, via a span no file intersects
    with _pytest.raises(ValueError, match="no files planned"):
        snap_read_two_level(spark, table, "bucket", {"9"}, "id", 1000, 2000)


def test_mv_from_cdf_group_lifecycle(spark):
    """CDF-driven MV refresh edge cases at helper grain: a group that
    APPEARS only via inserts enters the MV, and a group whose rows
    are all deleted LEAVES it (no zero-row residue) — exercised by a
    v0→v1 where one type is fully deleted and a brand-new type is
    inserted; the refreshed MV equals re-aggregation exactly."""
    from pyspark.sql import functions as F

    from steaminganalysis_spark.operators.storage import (
        _snap_add_files,
        _snap_commit,
        _snap_read,
        snap_diff,
    )
    from steaminganalysis_spark.registry import to_cents
    from steaminganalysis_spark.scratch import scratch_dir

    table = f"{scratch_dir('mvcdf')}/t"
    v0_df = spark.createDataFrame(
        [(1, "a", 1.0), (2, "a", 2.0), (3, "b", 3.0)],
        "event_id long, event_type string, value double",
    )
    f0 = _snap_add_files(v0_df, table, "mc0")
    _snap_commit(table, f0, 0)
    # v1: type b fully deleted, brand-new type c inserted, a kept
    v1_df = spark.createDataFrame(
        [(1, "a", 1.0), (2, "a", 2.0), (9, "c", 9.0)],
        "event_id long, event_type string, value double",
    )
    f1 = _snap_add_files(v1_df, table, "mc1")
    _snap_commit(table, f1, 1)

    mv0 = v0_df.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_rows"),
        F.sum(to_cents(F.col("value"))).cast("long").alias("cents"),
    )
    diff = snap_diff(spark, table, 0, 1, "event_id")
    sign = F.when(
        F.col("_change_type").isin("insert", "update_postimage"), F.lit(1)
    ).otherwise(F.lit(-1))
    delta = diff.groupBy("event_type").agg(
        F.sum(sign).cast("long").alias("d_rows"),
        F.sum(sign * to_cents(F.col("value"))).cast("long").alias("d_cents"),
    )
    mv1 = (
        mv0.join(delta, "event_type", "full_outer")
        .select(
            "event_type",
            (F.coalesce("n_rows", F.lit(0)) + F.coalesce("d_rows", F.lit(0)))
            .alias("n_rows"),
            (F.coalesce("cents", F.lit(0)) + F.coalesce("d_cents", F.lit(0)))
            .alias("cents"),
        )
        .filter(F.col("n_rows") > 0)
    )
    got = {r.event_type: (r.n_rows, r.cents) for r in mv1.collect()}
    assert got == {"a": (2, 300), "c": (1, 900)}  # b dropped, c appeared
    reagg = {
        r.event_type: (r.n_rows, r.cents)
        for r in _snap_read(spark, table)
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.sum(to_cents(F.col("value"))).cast("long").alias("cents"),
        )
        .collect()
    }
    assert got == reagg


def test_analyze_ndv_merge_exactness_and_metadata_only(spark):
    """q_table_analyze_ndv pins: (1) ANALYZE is a metadata-only commit
    (same file list, version+1); (2) manifest-merged registers equal
    the whole-table registers (lattice-merge exactness), including a
    group present in only ONE file; (3) the Python estimate mirror
    agrees with the Spark SQL estimate expression register-for-
    register on a hand-built state."""
    import json
    import os

    from steaminganalysis_spark.operators.aggregates import (
        HLLP_M,
        _hllp_estimate_sql,
        _hllp_hash_sql,
        _hllp_rank_sql,
    )
    from steaminganalysis_spark.operators.storage import (
        _hllp_estimate_py,
        _snap_add_files,
        _snap_commit,
        _snap_read,
        _snap_versions,
        snap_analyze_ndv,
        snap_ndv_estimates,
    )
    from steaminganalysis_spark.scratch import scratch_dir

    table = f"{scratch_dir('ndvpin')}/t"
    # two deliberately separate files; group "only_f2" lives in file 2
    f1 = _snap_add_files(
        spark.createDataFrame(
            [(i, "both", i % 7) for i in range(200)],
            "event_id long, event_type string, user_id long",
        ).coalesce(1),
        table,
        "ndv1",
    )
    f2 = _snap_add_files(
        spark.createDataFrame(
            [(i, "both", 100 + i % 13) for i in range(200)]
            + [(i, "only_f2", i % 5) for i in range(50)],
            "event_id long, event_type string, user_id long",
        ).coalesce(1),
        table,
        "ndv2",
    )
    _snap_commit(table, f1 + f2, 0)
    v1 = snap_analyze_ndv(spark, table, "event_type", "user_id + 1")

    committed = _snap_versions(table)
    d0 = json.loads(open(os.path.join(table, "manifests", committed[0])).read())
    d1 = json.loads(open(os.path.join(table, "manifests", committed[v1])).read())
    assert d1["files"] == d0["files"] and v1 == 1  # metadata-only
    assert set(d1["ndv"]["registers"]) == set(f1 + f2)

    est = snap_ndv_estimates(table)
    direct = {
        r["event_type"]: r["m"]
        for r in (
            _snap_read(spark, table)
            .selectExpr(
                "event_type",
                f"{_hllp_hash_sql('({a} ^ {b})', 'DIV', 'user_id + 1')} AS h",
            )
            .selectExpr(
                "event_type",
                f"h % {HLLP_M} AS j",
                f"{_hllp_rank_sql('DIV')} AS r",
            )
            .groupBy("event_type", "j")
            .agg(F.max("r").alias("r"))
            .alias("s")
            .groupBy("event_type")
            .agg(F.expr(_hllp_estimate_sql("s")).alias("m"))
            .collect()
        )
    }
    assert est == direct and set(est) == {"both", "only_f2"}
    # single-file group merges as identity; accuracy sanity (LC regime)
    assert abs(est["only_f2"] / 1000.0 - 5) <= 2
    assert abs(est["both"] / 1000.0 - 20) <= 6

    # (3) mirror vs SQL on a hand-built register state incl. rank cap
    regs = {0: 1, 3: 25, 17: 7, 255: 2}
    rows = [(j, r) for j, r in regs.items()]
    sql_val = (
        spark.createDataFrame(rows, "j int, r int")
        .alias("s")
        .groupBy()
        .agg(F.expr(_hllp_estimate_sql("s")).alias("m"))
        .first()["m"]
    )
    assert _hllp_estimate_py(regs) == sql_val


def test_bloom_skip_mirror_superset_and_absent_probe(spark):
    """q_table_bloom_skip pins: (1) the Python probe mirror computes
    the SAME positions as the Spark-side SQL position family (the
    cross-engine hinge — if these drift, pruning silently loses
    files); (2) membership: every inserted value plans its owning
    file; (3) an absent value plans ZERO files and reads an empty
    frame with the table schema (no false negatives, miss = free);
    (4) a file without a recorded bloom is always planned (superset
    safety)."""
    import json
    import os
    import zlib

    from steaminganalysis_spark.operators.aggregates import (
        BLP_K,
        _blp_pos_sql,
    )
    from steaminganalysis_spark.operators.storage import (
        _bloom_positions_py,
        _snap_add_files,
        _snap_commit,
        _snap_versions,
        snap_bloom_build,
        snap_read_bloom_pruned,
    )
    from steaminganalysis_spark.scratch import scratch_dir

    # (1) mirror vs SQL positions on assorted crc values incl. 2^32-1
    crcs = [0, 1, 73244475, 2654435760, 4294967295, 123456789]
    pos_sql = _blp_pos_sql("({a} ^ {b})", "DIV", "h0")
    exprs = [
        f"CAST({pos_sql.replace('+ j *', f'+ {j} *')} AS INT) AS p{j}"
        for j in range(BLP_K)
    ]
    rows = (
        spark.createDataFrame([(c,) for c in crcs], "h0 long")
        .selectExpr("h0", *exprs)
        .collect()
    )
    for r in rows:
        assert _bloom_positions_py(r["h0"]) == [r[f"p{j}"] for j in range(BLP_K)]

    # (2)-(4) on a two-file table, one file left bloom-less
    table = f"{scratch_dir('bloompin')}/t"
    f1 = _snap_add_files(
        spark.createDataFrame(
            [(i, f"alpha-{i}") for i in range(40)], "doc_id long, text string"
        ).coalesce(1),
        table,
        "bp1",
    )
    f2 = _snap_add_files(
        spark.createDataFrame(
            [(i, f"beta-{i}") for i in range(40, 80)],
            "doc_id long, text string",
        ).coalesce(1),
        table,
        "bp2",
    )
    _snap_commit(table, f1 + f2, 0)
    v1 = snap_bloom_build(spark, table, "text")
    assert v1 == 1

    for probe, owner in [("alpha-3", f1[0]), ("beta-77", f2[0])]:
        _, planned, total = snap_read_bloom_pruned(spark, table, probe)
        assert owner in planned and total == 2  # no false negative

    empty, planned, total = snap_read_bloom_pruned(spark, table, "gamma-nope")
    assert planned == [] and total == 2
    assert empty.count() == 0 and set(empty.columns) == {"doc_id", "text"}

    # strip file 2's bloom from the manifest -> it must always plan
    committed = _snap_versions(table)
    mpath = os.path.join(table, "manifests", committed[1])
    doc = json.loads(open(mpath).read())
    del doc["bloom"]["words"][f2[0]]
    with open(mpath, "w") as fh:
        json.dump(doc, fh)
    _, planned, _ = snap_read_bloom_pruned(spark, table, "alpha-3")
    assert f2[0] in planned  # bloom-less file conservatively kept
    _, planned, _ = snap_read_bloom_pruned(spark, table, "gamma-nope")
    assert planned == [f2[0]]  # absent probe still keeps bloom-less file

    # the crc the build used matches zlib's (same bytes, same poly)
    got = (
        spark.createDataFrame([("alpha-3",)], "text string")
        .select(F.crc32(F.encode("text", "UTF-8")).alias("c"))
        .first()["c"]
    )
    assert got == zlib.crc32(b"alpha-3")


def test_optimize_zorder_conflicts_stats_carry_and_tight_spans(spark):
    """q_table_optimize_zorder pins: (1) a concurrent DISJOINT append
    commutes with the zorder rewrite (both land, stats of all three
    parties survive the commit); (2) an overlapping rewrite that
    removed a source file conflicts loudly; (3) post-zorder per-file
    spans are tight in BOTH dimensions (each file's user span < the
    global span — the quad-cell property the planner exploits)."""
    import json
    import os

    from steaminganalysis_spark.operators.storage import (
        SnapCompactConflict,
        _snap_add_files_with_stats,
        _snap_commit,
        _snap_doc,
        _snap_read,
        _snap_versions,
        snap_append_optimistic,
        snap_compact_optimistic,
        snap_optimize_zorder,
    )
    from steaminganalysis_spark.scratch import scratch_dir

    def mk(spark, n0, n1, tag, table):
        df = spark.createDataFrame(
            [(i, (i * 37) % 199, float(i)) for i in range(n0, n1)],
            "event_id long, user_id long, value double",
        ).coalesce(1)
        return _snap_add_files_with_stats(
            df, table, tag, ["event_id", "user_id"]
        )

    # (1) zorder + disjoint append commute: the append is injected
    # INSIDE the staging->CAS window (deterministic interleave via a
    # staging shim), so the zorder CAS loses v1, re-reads, and must
    # carry the appended file through its successor.
    import steaminganalysis_spark.operators.storage as st

    table = f"{scratch_dir('zopin1')}/t"
    f0, s0 = mk(spark, 0, 400, "z0", table)
    _snap_commit(table, f0, 0, stats=s0)
    fa, sa = mk(spark, 400, 500, "za", table)

    real_stage = st._snap_add_files_with_stats
    fired = []

    def stage_then_append(df, tbl, tag, cols):
        out = real_stage(df, tbl, tag, cols)
        if tag == "zopt" and not fired:
            fired.append(True)
            snap_append_optimistic(table, fa)  # lands mid-window
        return out

    st._snap_add_files_with_stats = stage_then_append
    try:
        v = snap_optimize_zorder(
            spark, table, "event_id", "user_id", n_files=4
        )
    finally:
        st._snap_add_files_with_stats = real_stage
    assert fired  # the injection actually ran
    lv, doc = _snap_doc(table)
    assert lv == v and set(fa) <= set(doc["files"])  # append survived
    assert not (set(f0) & set(doc["files"]))  # sources replaced
    assert _snap_read(spark, table).count() == 500  # both visible
    # appended file entered stats-less (superset-safe); zorder files
    # carry fresh two-column stats
    zfiles = [f for f in doc["files"] if f not in fa]
    assert all(
        "event_id" in doc["stats"][f] and "user_id" in doc["stats"][f]
        for f in zfiles
    )

    # (3) tight spans in both dims on the zordered files
    g_lo = min(doc["stats"][f]["user_id"][0] for f in zfiles)
    g_hi = max(doc["stats"][f]["user_id"][1] for f in zfiles)
    spans = [
        doc["stats"][f]["user_id"][1] - doc["stats"][f]["user_id"][0]
        for f in zfiles
    ]
    assert min(spans) < (g_hi - g_lo)  # at least one strictly tighter
    assert sorted(spans)[len(spans) // 2] <= (g_hi - g_lo) * 3 // 4

    # (2) an overlapping rewrite landing INSIDE the window conflicts
    table2 = f"{scratch_dir('zopin2')}/t"
    f0, s0 = mk(spark, 0, 300, "z2", table2)
    _snap_commit(table2, f0, 0, stats=s0)
    rw, _ = mk(spark, 0, 300, "z2rw", table2)

    fired2 = []

    def stage_then_rewrite(df, tbl, tag, cols):
        out = real_stage(df, tbl, tag, cols)
        if tag == "zopt" and not fired2:
            fired2.append(True)
            # someone rewrites one of OUR sources mid-window
            snap_compact_optimistic(table2, [f0[0]], rw)
        return out

    st._snap_add_files_with_stats = stage_then_rewrite
    try:
        snap_optimize_zorder(spark, table2, "event_id", "user_id")
        raise AssertionError("zorder retried through an overlapping rewrite")
    except SnapCompactConflict:
        pass
    finally:
        st._snap_add_files_with_stats = real_stage
    assert fired2
    # nothing from the failed zorder is visible
    _, doc2 = _snap_doc(table2)
    assert set(doc2["files"]) == (set(f0) - {f0[0]}) | set(rw)


def test_snap_history_operation_classes_and_footer_rows(spark):
    """q_table_history pins: the file-set algebra classifies all five
    operation classes (create / append / metadata-only / delete /
    rewrite) and the footer row counts are exact per version,
    including across a delete commit (rows shrink) and a rewrite
    (files replaced, rows preserved)."""
    import json
    import os

    from steaminganalysis_spark.operators.storage import (
        _snap_add_files,
        _snap_commit,
        _snap_doc,
        snap_history,
    )
    from steaminganalysis_spark.scratch import scratch_dir

    table = f"{scratch_dir('histpin')}/t"
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(100)], "event_id long, value double"
    )
    a = _snap_add_files(df.filter("event_id < 60").coalesce(1), table, "h0")
    b = _snap_add_files(df.filter("event_id >= 60").coalesce(1), table, "h1")
    _snap_commit(table, a, 0)                      # create: 60 rows
    _snap_commit(table, a + b, 1)                  # append: 100 rows
    doc1 = json.loads(
        open(os.path.join(table, "manifests", "v1.json")).read()
    )
    doc1["note"] = "stats refresh"
    doc1["version"] = 2
    with open(os.path.join(table, "manifests", "v2.json"), "w") as fh:
        json.dump(doc1, fh)                        # metadata-only
    _snap_commit(table, a, 3)                      # delete: b dropped
    c = _snap_add_files(df.filter("event_id < 60").repartition(2), table, "h2")
    _snap_commit(table, c, 4)                      # rewrite: a -> c

    hist = {r.version: r for r in snap_history(spark, table).collect()}
    assert [hist[v].operation for v in range(5)] == [
        "create", "append", "metadata-only", "delete", "rewrite"
    ]
    assert [hist[v].n_rows for v in range(5)] == [60, 100, 100, 60, 60]
    assert (hist[4].n_added_files, hist[4].n_removed_files) == (2, 1)
    assert (hist[3].n_added_files, hist[3].n_removed_files) == (0, 1)


def test_curation_reason_precedence_and_time_travel_audit(spark):
    """q_corpus_curation_commits pins on a hand-built corpus: (1) when
    the LOWEST doc_id of a fingerprint group fails the quality floor,
    the keep goes to the lowest QUALITY-PASSING id (the min-over-CASE
    window, easy to get wrong as plain min); (2) a doc failing
    quality inside a dup group is reason='low_quality', never
    'duplicate'; (3) raw v0 stays time-travelable after the curation
    commit (audit trail)."""
    from steaminganalysis_spark.operators.storage import (
        CURATE_FP_LEN,
        CURATE_MIN_CHARS,
        _snap_add_files_with_stats,
        _snap_commit,
        _snap_read,
        snap_delete_optimistic,
        snap_read_mor,
    )
    from pyspark.sql import Window
    from steaminganalysis_spark.scratch import scratch_dir

    head = "x" * CURATE_FP_LEN
    lo = CURATE_MIN_CHARS - 1
    hi = CURATE_MIN_CHARS + 50
    rows = [
        (1, head + " short", "en", lo),   # dup-group head but low quality
        (2, head + " longer a", "en", hi),  # the rightful keep
        (3, head + " longer b", "en", hi),  # duplicate of 2
        (4, "y" * CURATE_FP_LEN, "de", hi),  # unique, kept
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, n_chars long"
    )
    table = f"{scratch_dir('curpin')}/t"
    f, s = _snap_add_files_with_stats(
        docs.coalesce(2), table, "cp", ["doc_id"]
    )
    _snap_commit(table, f, 0, stats=s)

    w = Window.partitionBy(F.substring("text", 1, CURATE_FP_LEN))
    cls = _snap_read(spark, table, 0).withColumn(
        "m",
        F.min(
            F.when(F.col("n_chars") >= CURATE_MIN_CHARS, F.col("doc_id"))
        ).over(w),
    )
    removals = cls.filter(
        (F.col("n_chars") < CURATE_MIN_CHARS) | (F.col("doc_id") != F.col("m"))
    ).select(
        "doc_id",
        F.when(F.col("n_chars") < CURATE_MIN_CHARS, F.lit("low_quality"))
        .otherwise(F.lit("duplicate"))
        .alias("reason"),
    )
    got = {r.doc_id: r.reason for r in removals.collect()}
    assert got == {1: "low_quality", 3: "duplicate"}  # (1) and (2)

    snap_delete_optimistic(
        spark, table, removals.select("doc_id"), "doc_id", dv_threshold=0.9
    )
    assert sorted(
        r.doc_id for r in snap_read_mor(spark, table, "doc_id").collect()
    ) == [2, 4]
    # (3) raw v0 still fully readable — the audit trail survives
    assert _snap_read(spark, table, 0).count() == 4


def test_column_mapping_rename_cycles_and_id_reuse_safety(spark):
    """q_table_column_mapping pins: (1) a rename CYCLE (a->b then b->a
    across eras) still reads correctly because resolution is by field
    id; (2) a SWAP rename (two columns exchange names) — the case
    name-based readers corrupt silently — resolves correctly; (3) a
    field id absent from the current schema (dropped column) is
    simply not projected."""
    from steaminganalysis_spark.operators.storage import (
        _snap_add_files,
        snap_commit_mapped,
        snap_read_mapped,
    )
    from steaminganalysis_spark.scratch import scratch_dir

    table = f"{scratch_dir('cmpin')}/t"
    # era 1: physical (k, x, y)
    e1 = spark.createDataFrame(
        [(1, 10, 100), (2, 20, 200)], "k long, x long, y long"
    )
    f1 = _snap_add_files(e1.coalesce(1), table, "e1")
    s1 = {"1": "k", "2": "x", "3": "y"}
    snap_commit_mapped(table, f1, 0, s1, {f: s1 for f in f1})

    # era 2: SWAP x<->y logically (metadata-only), then append files
    # physically written with the swapped names
    s2 = {"1": "k", "2": "y", "3": "x"}
    e2 = spark.createDataFrame(
        [(3, 300, 30)], "k long, x long, y long"
    )  # physical x holds what is NOW logically y (field id 2)
    f2 = _snap_add_files(e2.coalesce(1), table, "e2")
    snap_commit_mapped(
        table,
        f1 + f2,
        1,
        s2,
        {f: {"1": "k", "2": "x", "3": "y"} for f in f2},
        prev_file_schemas={f: s1 for f in f1},
    )
    got = {
        r.k: (r.y, r.x)
        for r in snap_read_mapped(spark, table).collect()
    }
    # era-1 rows: field 2 (physical x) is now logical y; era-2 same
    assert got == {1: (10, 100), 2: (20, 200), 3: (300, 30)}

    # (3) drop field 3 from the current schema -> not projected
    s3 = {"1": "k", "2": "y"}
    snap_commit_mapped(
        table,
        f1 + f2,
        2,
        s3,
        {},
        prev_file_schemas={
            **{f: s1 for f in f1},
            **{f: {"1": "k", "2": "x", "3": "y"} for f in f2},
        },
    )
    dropped = snap_read_mapped(spark, table)
    assert set(dropped.columns) == {"k", "y"}
    assert {r.k: r.y for r in dropped.collect()} == {1: 10, 2: 20, 3: 300}


def test_manifest_list_shard_invisibility_and_localized_commit(spark):
    """q_table_manifest_list pins: (1) shard documents written before
    the list commit are INVISIBLE (a crash between shard writes and
    the list rename leaves readers on the previous version); (2) a
    localized v1 commit (one partition's shard replaced, others
    re-referenced by name) changes only that partition's read; (3) a
    requested partition absent from the list plans zero shards."""
    import json
    import os

    from steaminganalysis_spark.operators.storage import (
        _snap_add_files,
        snap_commit_sharded,
        snap_read_manifest_list,
    )
    from steaminganalysis_spark.scratch import scratch_dir

    table = f"{scratch_dir('mlpin')}/t"
    mk = lambda lo, hi: spark.createDataFrame(
        [(i, float(i)) for i in range(lo, hi)], "event_id long, value double"
    ).coalesce(1)
    parts0 = {
        "2024-01-01": _snap_add_files(mk(0, 10), table, "p1"),
        "2024-01-02": _snap_add_files(mk(10, 30), table, "p2"),
    }
    snap_commit_sharded(table, parts0, 0)

    # (1) stage orphan shard docs with NO list commit -> invisible
    sdir = os.path.join(table, "manifests", "shards")
    with open(os.path.join(sdir, "s-orphan.json"), "w") as fh:
        json.dump({"part": "2024-01-03", "files": ["nope.parquet"]}, fh)
    df, shards_read, total, planned = snap_read_manifest_list(
        spark, table, ["2024-01-01", "2024-01-02", "2024-01-03"]
    )
    assert shards_read == 2 and total == 2  # orphan shard invisible
    assert df.count() == 30

    # (2) localized commit: day 2 compacted, day 1 re-referenced
    parts1 = dict(parts0)
    parts1["2024-01-02"] = _snap_add_files(mk(10, 30), table, "p2b")
    snap_commit_sharded(table, parts1, 1)
    df1, _, _, planned1 = snap_read_manifest_list(spark, table, ["2024-01-01"])
    assert planned1 == parts0["2024-01-01"]  # day-1 files unchanged
    df2, _, _, planned2 = snap_read_manifest_list(spark, table, ["2024-01-02"])
    assert planned2 == parts1["2024-01-02"] != parts0["2024-01-02"]
    assert df2.count() == 20

    # (3) absent partition alone -> error (nothing exists), absent +
    # present -> zero extra shard reads
    try:
        snap_read_manifest_list(spark, table, ["1999-01-01"])
        raise AssertionError("absent-only request should raise")
    except ValueError:
        pass


def test_analyze_ndv_incremental_scans_only_new_files(spark):
    """ANALYZE after an append must scan ONLY the new files: existing
    per-file registers carry forward untouched (files are immutable,
    so carried == rescanned), the merged estimate still equals the
    full recompute, and a DIFFERENT group_col triggers a full rescan
    (carried entries keyed by the old grouping are unusable)."""
    import json
    import os

    from steaminganalysis_spark.operators.storage import (
        _snap_add_files,
        _snap_commit,
        _snap_versions,
        snap_analyze_ndv,
        snap_append_optimistic,
        snap_ndv_estimates,
    )
    from steaminganalysis_spark.scratch import scratch_dir

    table = f"{scratch_dir('ndvinc')}/t"
    f1 = _snap_add_files(
        spark.createDataFrame(
            [(i, "a", i % 11) for i in range(200)],
            "event_id long, event_type string, user_id long",
        ).coalesce(1),
        table,
        "ni1",
    )
    _snap_commit(table, f1, 0)
    snap_analyze_ndv(spark, table, "event_type", "user_id + 1")
    est1 = snap_ndv_estimates(table)

    committed = _snap_versions(table)
    doc1 = json.loads(
        open(os.path.join(table, "manifests", committed[max(committed)])).read()
    )
    regs_f1_before = json.dumps(
        doc1["ndv"]["registers"][f1[0]], sort_keys=True
    )

    f2 = _snap_add_files(
        spark.createDataFrame(
            [(i, "a", 100 + i % 23) for i in range(100)],
            "event_id long, event_type string, user_id long",
        ).coalesce(1),
        table,
        "ni2",
    )
    snap_append_optimistic(table, f2)
    snap_analyze_ndv(spark, table, "event_type", "user_id + 1")

    committed = _snap_versions(table)
    doc2 = json.loads(
        open(os.path.join(table, "manifests", committed[max(committed)])).read()
    )
    # f1's registers carried forward byte-identically; f2's are new
    assert (
        json.dumps(doc2["ndv"]["registers"][f1[0]], sort_keys=True)
        == regs_f1_before
    )
    assert f2[0] in doc2["ndv"]["registers"]
    # merged estimate reflects BOTH cohorts (34 distinct > est1's 11)
    est2 = snap_ndv_estimates(table)
    assert est2["a"] > est1["a"]
    assert abs(est2["a"] / 1000.0 - 34) <= 5

    # different group_col -> carried entries unusable, full rescan
    v = snap_analyze_ndv(spark, table, "event_id", "user_id + 1")
    committed = _snap_versions(table)
    doc3 = json.loads(
        open(os.path.join(table, "manifests", committed[v])).read()
    )
    assert doc3["ndv"]["group_col"] == "event_id"
    assert set(doc3["ndv"]["registers"]) == set(f1 + f2)


def test_agg_pushdown_dv_and_empty_refusal(spark):
    """q_table_agg_pushdown pins: (1) a DV-carrying manifest REFUSES
    pushdown (deleted-but-unrewritten rows sit in footers — answering
    would overcount); (2) an empty table refuses (MIN/MAX of nothing
    is NULL, the engine path must state it); (3) after the DVs are
    folded away by a rewrite, pushdown works again and reflects the
    deletes."""
    from steaminganalysis_spark.operators.storage import (
        _snap_add_files_with_stats,
        _snap_commit,
        snap_agg_pushdown,
        snap_delete_optimistic,
        snap_read_mor,
    )
    from steaminganalysis_spark.scratch import scratch_dir

    table = f"{scratch_dir('apdpin')}/t"
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(100)], "event_id long, value double"
    )
    f, s = _snap_add_files_with_stats(
        df.coalesce(2), table, "ap", ["event_id"]
    )
    _snap_commit(table, f, 0, stats=s)
    assert snap_agg_pushdown(table, ["event_id"]) == {
        "n_rows": 100,
        "min_event_id": 0,
        "max_event_id": 99,
    }

    # (1) DV delete -> refusal
    keys = spark.createDataFrame([(5,), (50,)], "event_id long")
    snap_delete_optimistic(spark, table, keys, "event_id", dv_threshold=0.9)
    assert snap_agg_pushdown(table, ["event_id"]) is None

    # (3) rewrite folds the DVs -> eligible again, deletes reflected
    kept = snap_read_mor(spark, table, "event_id")
    f2, s2 = _snap_add_files_with_stats(
        kept.coalesce(1), table, "ap2", ["event_id"]
    )
    _snap_commit(table, f2, 99, stats=s2)
    got = snap_agg_pushdown(table, ["event_id"])
    assert got == {"n_rows": 98, "min_event_id": 0, "max_event_id": 99}

    # (2) empty table -> refusal
    t2 = f"{scratch_dir('apdpin2')}/t"
    _snap_commit(t2, [], 0, stats={})
    assert snap_agg_pushdown(t2, ["event_id"]) is None


def test_incremental_read_fallback_on_rewrite_and_empty_range(spark):
    """q_table_incremental_read pins: (1) a REWRITE step inside the
    range flips the strategy to the snap_diff fallback, whose insert
    rows match the true inserts (copied-through rows never leak);
    (2) an empty append-only range returns an empty typed frame on
    the fast path; (3) same-version range is empty."""
    from steaminganalysis_spark.operators.storage import (
        _snap_add_files,
        _snap_commit,
        snap_compact_optimistic,
        snap_read_incremental,
    )
    from steaminganalysis_spark.scratch import scratch_dir

    table = f"{scratch_dir('irpin')}/t"
    base = spark.createDataFrame(
        [(i, "a", float(i)) for i in range(50)],
        "event_id long, event_type string, value double",
    )
    f0 = _snap_add_files(base.repartition(2), table, "ir0")
    _snap_commit(table, f0, 0)

    # (3)/(2): same-version and append-only-but-empty ranges
    empty, strat = snap_read_incremental(spark, table, 0, 0)
    assert strat == "appends-fast-path" and empty.count() == 0
    assert set(empty.columns) == {"event_id", "event_type", "value"}

    # v1: rewrite (compaction) + v2: append
    rw = _snap_add_files(base.coalesce(1), table, "irrw")
    snap_compact_optimistic(table, f0, rw)
    ins = spark.createDataFrame(
        [(100, "b", 1.0), (101, "b", 2.0)],
        "event_id long, event_type string, value double",
    )
    f2 = _snap_add_files(ins.coalesce(1), table, "ir2")
    _snap_commit(table, rw + f2, 2)

    # key_col is required once the range contains a rewrite
    try:
        snap_read_incremental(spark, table, 0, 2)
        raise AssertionError("fallback without key_col should refuse")
    except ValueError:
        pass
    got, strat = snap_read_incremental(spark, table, 0, 2, key_col="event_id")
    assert strat == "diff-fallback"  # rewrite inside the range
    assert sorted(r.event_id for r in got.collect()) == [100, 101]


def test_constraint_commit_edge_bounds_and_null_rejection(spark):
    """q_table_constraint_commit pins: (1) bounds EXACTLY on the
    constraint edge stats-prove (closed interval, no off-by-one
    rejection); (2) a file whose bounds poke outside but whose ROWS
    are all inside scan-verifies and lands (conservative stats never
    falsely reject)... exercised via a mixed commit where only the
    unproven file is scanned; (3) NULLs in the checked column reject
    (a CHECK constraint is also NOT NULL on its column); (4) a
    rejected commit leaves the version counter untouched."""
    from steaminganalysis_spark.operators.storage import (
        SnapConstraintViolation,
        _snap_add_files,
        _snap_add_files_with_stats,
        _snap_commit,
        _snap_doc,
        snap_commit_checked,
    )
    from steaminganalysis_spark.scratch import scratch_dir

    table = f"{scratch_dir('ckpin')}/t"
    _snap_commit(table, [], 0, stats={})

    # (1) edge bounds: min == lo, max == hi
    f1, s1 = _snap_add_files_with_stats(
        spark.createDataFrame(
            [(1, 0.0), (2, 100.0)], "event_id long, value double"
        ).coalesce(1),
        table,
        "ck1",
        ["value"],
    )
    v, mode = snap_commit_checked(spark, table, f1, s1, "value", 0.0, 100.0)
    assert mode == "stats-proven" and v == 1

    # (2) mixed commit: one proven file + one stats-less in-bounds
    # file -> scan-verified overall, both land
    f2a, s2a = _snap_add_files_with_stats(
        spark.createDataFrame([(3, 50.0)], "event_id long, value double")
        .coalesce(1),
        table,
        "ck2a",
        ["value"],
    )
    f2b = _snap_add_files(
        spark.createDataFrame([(4, 60.0)], "event_id long, value double")
        .coalesce(1),
        table,
        "ck2b",
    )
    v, mode = snap_commit_checked(
        spark, table, f2a + f2b, s2a, "value", 0.0, 100.0
    )
    assert mode == "scan-verified" and v == 2

    # (3) a NULL in the checked column rejects
    f3 = _snap_add_files(
        spark.createDataFrame(
            [(5, None)], "event_id long, value double"
        ).coalesce(1),
        table,
        "ck3",
    )
    try:
        snap_commit_checked(spark, table, f3, {}, "value", 0.0, 100.0)
        raise AssertionError("NULL passed the CHECK constraint")
    except SnapConstraintViolation:
        pass
    # (4) version counter untouched by the rejection
    v4, doc = _snap_doc(table)
    assert v4 == 2 and not (set(f3) & set(doc["files"]))

    # (5) in-bounds stats + NULLs must NOT stats-prove: parquet
    # min/max exclude nulls, so bounds alone would blind-accept a
    # file the scan path rejects — the null_count==0 requirement
    # routes it to the scan, which rejects
    f5, s5 = _snap_add_files_with_stats(
        spark.createDataFrame(
            [(6, 10.0), (7, None)], "event_id long, value double"
        ).coalesce(1),
        table,
        "ck5",
        ["value"],
    )
    try:
        snap_commit_checked(spark, table, f5, s5, "value", 0.0, 100.0)
        raise AssertionError("NULL slipped through the stats-proof path")
    except SnapConstraintViolation:
        pass


def test_null_pruning_not_null_arm_and_superset_safety(spark):
    """q_table_null_pruning pins: (1) the IS NOT NULL arm prunes an
    ALL-NULL file (the sparse-column complement); (2) a file without
    recorded null stats is kept by BOTH arms (superset safety); (3) a
    fully-null + fully-populated pair partitions cleanly between the
    two arms; (4) IS NULL with zero matching files returns an empty
    typed frame."""
    from steaminganalysis_spark.operators.storage import (
        snap_commit_with_nulls,
        snap_read_null_pruned,
    )
    from steaminganalysis_spark.scratch import scratch_dir

    table = f"{scratch_dir('nullpin')}/t"
    full = spark.createDataFrame(
        [(1, 1.0), (2, 2.0)], "event_id long, value double"
    )
    allnull = spark.createDataFrame(
        [(3, None), (4, None)], "event_id long, value double"
    )
    f_full, nulls = snap_commit_with_nulls(
        full.coalesce(1), table, "np1", ["value"]
    )
    f_null, nulls = snap_commit_with_nulls(
        allnull.coalesce(1), table, "np2", ["value"]
    )

    _, planned_null, _ = snap_read_null_pruned(spark, table, "value", True)
    _, planned_notnull, _ = snap_read_null_pruned(spark, table, "value", False)
    assert planned_null == f_null and planned_notnull == f_full  # (1)(3)

    # (2) strip one file's null record -> kept by both arms
    import json
    import os

    mpath = os.path.join(table, "manifests", "v1.json")
    doc = json.loads(open(mpath).read())
    del doc["nulls"][f_full[0]]
    with open(mpath, "w") as fh:
        json.dump(doc, fh)
    _, planned_null2, _ = snap_read_null_pruned(spark, table, "value", True)
    _, planned_notnull2, _ = snap_read_null_pruned(spark, table, "value", False)
    assert f_full[0] in planned_null2 and f_full[0] in planned_notnull2

    # (4) a table with no nulls at all: IS NULL plans zero files
    t2 = f"{scratch_dir('nullpin2')}/t"
    f2, _ = snap_commit_with_nulls(full.coalesce(1), t2, "np3", ["value"])
    empty, planned, total = snap_read_null_pruned(spark, t2, "value", True)
    assert planned == [] and total == 1 and empty.count() == 0
    assert set(empty.columns) == {"event_id", "value"}


def test_zorder_dv_table_applies_and_drops_dvs(spark):
    """ADVICE r13 (high) pins for snap_optimize_zorder on a
    DV-carrying table: (1) without key_col the rewrite REFUSES (it
    cannot apply equality-delete DVs it cannot key); (2) with key_col
    the input is read merge-on-read and the successor DROPS the dv
    entries keyed by rewritten files — deleted rows never resurrect
    in the new layout; (3) a concurrent DV commit landing inside the
    staging->CAS window conflicts instead of silently resurrecting
    the concurrently-deleted rows."""
    import json
    import os

    import steaminganalysis_spark.operators.storage as st
    from steaminganalysis_spark.operators.storage import (
        SnapCompactConflict,
        _snap_add_files_with_stats,
        _snap_commit,
        _snap_doc,
        snap_delete_optimistic,
        snap_optimize_zorder,
        snap_read_mor,
    )
    from steaminganalysis_spark.scratch import scratch_dir

    def mk_table(name):
        table = f"{scratch_dir(name)}/t"
        df = spark.createDataFrame(
            [(i, (i * 37) % 199, float(i)) for i in range(400)],
            "event_id long, user_id long, value double",
        )
        f0, s0 = _snap_add_files_with_stats(
            df.repartitionByRange(4, "event_id"),
            table,
            "zdv0",
            ["event_id", "user_id"],
        )
        _snap_commit(table, f0, 0, stats=s0)
        return table

    # scattered delete -> DV path (well under the 0.3 threshold)
    table = mk_table("zdvpin1")
    dels = spark.createDataFrame(
        [(i,) for i in range(0, 400, 50)], "event_id long"
    )
    rec = snap_delete_optimistic(spark, table, dels, "event_id")
    _, doc = _snap_doc(table)
    assert doc.get("dv"), f"harness broke: delete took COW ({rec})"

    # (1) refusal without key_col
    try:
        snap_optimize_zorder(spark, table, "event_id", "user_id")
        raise AssertionError("zorder ran blind on a DV-carrying table")
    except SnapCompactConflict:
        pass

    # (2) with key_col: deletes applied, dv entries dropped
    v = snap_optimize_zorder(
        spark, table, "event_id", "user_id", key_col="event_id"
    )
    lv, doc = _snap_doc(table)
    assert lv == v and not doc.get("dv")
    got = sorted(
        r.event_id
        for r in snap_read_mor(spark, table, "event_id").collect()
    )
    assert got == [i for i in range(400) if i % 50 != 0]  # no resurrection

    # (3) concurrent DV commit mid-window -> conflict
    table2 = mk_table("zdvpin2")
    real_stage = st._snap_add_files_with_stats
    fired = []

    def stage_then_delete(df, tbl, tag, cols):
        out = real_stage(df, tbl, tag, cols)
        if tag == "zopt" and not fired:
            fired.append(True)
            snap_delete_optimistic(
                spark,
                table2,
                spark.createDataFrame([(7,), (203,)], "event_id long"),
                "event_id",
            )
        return out

    st._snap_add_files_with_stats = stage_then_delete
    try:
        snap_optimize_zorder(
            spark, table2, "event_id", "user_id", key_col="event_id"
        )
        raise AssertionError("zorder published over a concurrent DV commit")
    except SnapCompactConflict:
        pass
    finally:
        st._snap_add_files_with_stats = real_stage
    assert fired
    # the concurrent delete is still in force
    got2 = {
        r.event_id
        for r in snap_read_mor(spark, table2, "event_id").collect()
    }
    assert 7 not in got2 and 203 not in got2 and len(got2) == 398


def test_analyze_ndv_key_expr_invalidates_carry(spark):
    """ADVICE r13 (medium) pin: re-running ANALYZE with the same
    group_col but a DIFFERENT key_expr must invalidate the carry (the
    manifest records key_expr), never merge old-expression registers
    with new ones — the estimates must equal a fresh single ANALYZE
    with the new expression."""
    from steaminganalysis_spark.operators.storage import (
        _snap_add_files,
        _snap_commit,
        _snap_doc,
        snap_analyze_ndv,
        snap_ndv_estimates,
    )
    from steaminganalysis_spark.scratch import scratch_dir

    df = spark.createDataFrame(
        [(i, "a", i % 13) for i in range(300)],
        "event_id long, event_type string, user_id long",
    ).coalesce(1)

    table = f"{scratch_dir('ndvkx1')}/t"
    f1 = _snap_add_files(df, table, "kx1")
    _snap_commit(table, f1, 0)
    snap_analyze_ndv(spark, table, "event_type", "user_id + 1")
    _, doc = _snap_doc(table)
    assert doc["ndv"]["key_expr"] == "user_id + 1"
    # same grouping, different key expression -> full recompute
    snap_analyze_ndv(spark, table, "event_type", "event_id * 2")
    got = snap_ndv_estimates(table)

    # reference: one ANALYZE with the new expression on a twin table
    t2 = f"{scratch_dir('ndvkx2')}/t"
    f2 = _snap_add_files(df, t2, "kx2")
    _snap_commit(t2, f2, 0)
    snap_analyze_ndv(spark, t2, "event_type", "event_id * 2")
    assert got == snap_ndv_estimates(t2)  # stale merge would inflate


def test_metadata_commits_cas_never_clobber_concurrent_append(spark):
    """ADVICE r13 (medium) pin: ANALYZE / bloom-build publish through
    the CAS retry loop — a concurrent append taking the next version
    mid-publish is never clobbered (the os.replace hole): the loser
    re-reads, covers the appended file too, and lands on top."""
    import steaminganalysis_spark.operators.storage as st
    from steaminganalysis_spark.operators.storage import (
        _snap_add_files,
        _snap_commit,
        _snap_doc,
        snap_analyze_ndv,
        snap_append_optimistic,
        snap_bloom_build,
    )
    from steaminganalysis_spark.scratch import scratch_dir

    table = f"{scratch_dir('mdcas')}/t"
    f1 = _snap_add_files(
        spark.createDataFrame(
            [(i, "a", i % 7, f"w{i}") for i in range(100)],
            "event_id long, event_type string, user_id long, text string",
        ).coalesce(1),
        table,
        "mc1",
    )
    _snap_commit(table, f1, 0)
    fa = _snap_add_files(
        spark.createDataFrame(
            [(i, "b", i % 5, f"x{i}") for i in range(100, 150)],
            "event_id long, event_type string, user_id long, text string",
        ).coalesce(1),
        table,
        "mca",
    )

    real_cas = st._snap_commit_cas
    fired = []

    def lose_first_cas(tbl, files, version, **kw):
        if not fired:
            fired.append(True)
            snap_append_optimistic(table, fa)  # takes this version first
        return real_cas(tbl, files, version, **kw)

    st._snap_commit_cas = lose_first_cas
    try:
        v = snap_analyze_ndv(spark, table, "event_type", "user_id + 1")
    finally:
        st._snap_commit_cas = real_cas
    assert fired
    lv, doc = _snap_doc(table)
    # the append survived AND the analyze covers the appended file
    assert lv == v and set(fa) <= set(doc["files"])
    assert set(doc["ndv"]["registers"]) == set(f1 + fa)

    # same discipline for the bloom build (no injection needed to
    # check key preservation: ndv must survive the bloom commit)
    snap_bloom_build(spark, table, "text")
    _, doc2 = _snap_doc(table)
    assert set(doc2["bloom"]["words"]) == set(f1 + fa)
    assert doc2.get("ndv"), "bloom commit dropped the ndv block"


def test_agg_pushdown_dv_overlap_refusal_and_proof_rules(spark):
    """q_table_agg_pushdown_dv pins: (1) disjoint double deletes on
    one file subtract exactly (two DV files, no overlap); (2) a
    DOUBLE delete of the same key (overlapping scoped DV pairs)
    REFUSES — subtracting both copies would undercount; (3) a DV on
    the argmin file omits MIN but keeps MAX provable from the DV-free
    argmax file; (4) a multi-row key deletes all its rows and the
    pair-per-row record keeps COUNT exact."""
    from steaminganalysis_spark.operators.storage import (
        _snap_add_files_with_stats,
        _snap_commit,
        snap_agg_pushdown_dv,
        snap_delete_optimistic,
        snap_read_mor,
    )
    from steaminganalysis_spark.scratch import scratch_dir

    table = f"{scratch_dir('apdvpin')}/t"
    # two files: [0..99] and [100..199], plus key 50 duplicated (4)
    df = spark.createDataFrame(
        [(i,) for i in range(200)] + [(50,)], "event_id long"
    )
    f0, s0 = _snap_add_files_with_stats(
        df.repartitionByRange(2, "event_id"), table, "ap0", ["event_id"]
    )
    _snap_commit(table, f0, 0, stats=s0)

    def dele(ids):
        snap_delete_optimistic(
            spark,
            table,
            spark.createDataFrame([(i,) for i in ids], "event_id long"),
            "event_id",
        )

    # (1)+(4): two disjoint deletes on the low file; key 50 has 2 rows
    dele([50, 3])
    dele([7])
    got = snap_agg_pushdown_dv(table, ["event_id"])
    assert got is not None and got["n_rows"] == 201 - 4
    assert got["n_rows"] == snap_read_mor(spark, table, "event_id").count()
    # (3): argmin file carries DVs -> MIN omitted; argmax DV-free
    assert "min_event_id" not in got and got["max_event_id"] == 199

    # (2): delete key 7 AGAIN -> overlapping scoped pairs -> refuse
    dele([7])
    assert snap_agg_pushdown_dv(table, ["event_id"]) is None


def test_vacuum_spares_tagged_snapshot_files(spark):
    """q_table_refs fault pin (VERDICT r13 order #5 'done' gate): a
    tagged snapshot whose files are NOT shared with the live version
    (a compaction replaced them all) must survive VACUUM — manifest
    AND data files — purely through the ref head's retention; after
    the tag drops, the same VACUUM expires the manifest and sweeps
    the now-unreferenced files. Also: refs on a never-committed
    version refuse, and a dangling ref makes VACUUM fail loudly."""
    import os

    from steaminganalysis_spark.operators.storage import (
        _snap_add_files,
        _snap_commit,
        _snap_read,
        _snap_versions,
        snap_compact_optimistic,
        snap_expire,
        snap_ref_create,
        snap_ref_drop,
        snap_read_ref,
    )
    from steaminganalysis_spark.scratch import scratch_dir

    table = f"{scratch_dir('refvac')}/t"
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(100)], "event_id long, value double"
    )
    f0 = _snap_add_files(df.repartition(2), table, "rv0")
    _snap_commit(table, f0, 0)
    snap_ref_create(table, "audited", "tag", version=0)

    # v1 replaces EVERY v0 file (compaction) -> zero sharing
    rw = _snap_add_files(_snap_read(spark, table, 0).coalesce(1), table, "rvc")
    snap_compact_optimistic(table, f0, rw)

    rec = snap_expire(table, [1], orphan_grace_seconds=0.0)
    assert 0 in _snap_versions(table)  # manifest survived via the tag
    ddir = os.path.join(table, "data")
    assert all(os.path.exists(os.path.join(ddir, f)) for f in f0)
    assert snap_read_ref(spark, table, "audited").count() == 100

    # refs refuse uncommitted targets
    try:
        snap_ref_create(table, "bogus", "tag", version=99)
        raise AssertionError("ref pinned an uncommitted version")
    except ValueError:
        pass

    # drop the tag -> v0 and its unshared files actually go
    snap_ref_drop(table, "audited")
    rec = snap_expire(table, [1], orphan_grace_seconds=0.0)
    assert 0 not in _snap_versions(table)
    assert set(f0) <= set(rec["files_removed"])
    assert _snap_read(spark, table).count() == 100  # live head intact

    # dangling ref: hand-write a ref at the expired version -> loud
    from steaminganalysis_spark.operators.storage import _snap_ref_write

    _snap_ref_write(table, {"name": "stale", "kind": "tag", "version": 0})
    try:
        snap_expire(table, [1], orphan_grace_seconds=0.0)
        raise AssertionError("VACUUM swept past a dangling ref")
    except ValueError:
        pass


def test_ann_index_commits_crash_and_rewrite_paths(spark):
    """q_table_ann_index_commits pins: (1) staged-but-uncommitted
    shards are invisible (a crash between staging and CAS leaves the
    index manifest at its old covers marker and a re-run covers the
    append exactly once); (2) a corpus REWRITE (compaction) between
    covered and latest takes the diff fallback, contributes ZERO new
    assignments, and the index still equals a full rebuild under the
    frozen quantizer."""
    import os

    from steaminganalysis_spark.operators.ann import (
        _assign,
        _centroids_df,
        snap_ann_index_update,
        train_ivf,
    )
    from steaminganalysis_spark.operators.storage import (
        _snap_add_files,
        _snap_commit_cas,
        _snap_doc,
        _snap_read,
        snap_append_optimistic,
        snap_compact_optimistic,
    )
    from steaminganalysis_spark.scratch import scratch_dir

    tmp = scratch_dir("annix_pin")
    corpus_table = os.path.join(tmp, "corpus")
    index_table = os.path.join(tmp, "index")
    index_dir = os.path.join(tmp, "model")

    import math

    def vecs(lo, hi):
        rows = [
            (
                i,
                [float((i * 7 + d) % 13) for d in range(4)],
                math.sqrt(sum(((i * 7 + d) % 13) ** 2 for d in range(4))),
            )
            for i in range(lo, hi)
        ]
        return spark.createDataFrame(
            rows, "vec_id long, v array<double>, norm double"
        )

    f0 = _snap_add_files(vecs(0, 60).coalesce(1), corpus_table, "axp0")
    _snap_commit_cas(corpus_table, f0, 0)
    cents = train_ivf(spark, _snap_read(spark, corpus_table, 0), k=4, iters=2)
    _centroids_df(spark, cents).write.mode("overwrite").parquet(
        f"{index_dir}/centroids"
    )
    cdf = spark.read.parquet(f"{index_dir}/centroids")
    seed = _assign(_snap_read(spark, corpus_table, 0), cdf, keep=1).select(
        "vec_id", F.col("cid").alias("list_id")
    )
    s0 = _snap_add_files(seed.coalesce(1), index_table, "axps")
    _snap_commit_cas(index_table, s0, 0, extra={"covers_corpus_version": 0})

    # append, then CRASH mid-update: stage orphan shards, no CAS
    fd = _snap_add_files(vecs(60, 90).coalesce(1), corpus_table, "axpd")
    snap_append_optimistic(corpus_table, fd)
    _snap_add_files(  # orphan — a crashed updater's staging
        seed.limit(3), index_table, "axp_orphan"
    )
    v_ix, doc_ix = _snap_doc(index_table)
    assert v_ix == 0 and doc_ix["covers_corpus_version"] == 0  # (1) invisible

    rec = snap_ann_index_update(spark, corpus_table, index_table, index_dir)
    assert rec["strategy"] == "appends-fast-path" and rec["to"] == 1
    ix = _snap_read(spark, index_table).select("vec_id", "list_id")
    assert ix.count() == 90  # orphan shards never entered the manifest

    # (2) corpus rewrite -> diff fallback, zero new assignments
    rw = _snap_add_files(
        _snap_read(spark, corpus_table).coalesce(1), corpus_table, "axprw"
    )
    _, cdoc = _snap_doc(corpus_table)
    snap_compact_optimistic(corpus_table, cdoc["files"], rw)
    rec2 = snap_ann_index_update(spark, corpus_table, index_table, index_dir)
    assert rec2["strategy"] == "diff-fallback"
    ix2 = _snap_read(spark, index_table).select("vec_id", "list_id")
    assert ix2.count() == 90
    full = _assign(_snap_read(spark, corpus_table), cdf, keep=1).select(
        "vec_id", F.col("cid").alias("list_id")
    )
    assert ix2.exceptAll(full).count() == 0 and full.exceptAll(ix2).count() == 0


def test_compact_carries_metadata_and_refuses_dv_sources(spark):
    """snap_compact_optimistic metadata carry (r14, the zorder-DV
    lesson): (1) survivors keep their stats and dv entries through a
    compaction of OTHER files; (2) compacting a file that carries DV
    entries refuses (a raw-read rewrite would resurrect its deletes);
    (3) staged files enter stats-less (superset-safe)."""
    from steaminganalysis_spark.operators.storage import (
        SnapCompactConflict,
        _snap_add_files,
        _snap_add_files_with_stats,
        _snap_commit,
        _snap_doc,
        _snap_read,
        snap_compact_optimistic,
        snap_delete_optimistic,
        snap_read_mor,
    )
    from steaminganalysis_spark.scratch import scratch_dir

    table = f"{scratch_dir('cmpcarry')}/t"
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(200)], "event_id long, value double"
    )
    f0, s0 = _snap_add_files_with_stats(
        df.repartitionByRange(4, "event_id"), table, "cc0", ["event_id"]
    )
    _snap_commit(table, f0, 0, stats=s0)
    # scatter a DV onto the LOW file only
    snap_delete_optimistic(
        spark,
        table,
        spark.createDataFrame([(3,), (7,)], "event_id long"),
        "event_id",
    )
    _, doc = _snap_doc(table)
    dv_files = sorted(doc.get("dv", {}))
    assert dv_files  # harness: the delete took the DV path
    clean = [f for f in doc["files"] if f not in doc.get("dv", {})][:2]

    # (1)+(3): compact two DV-free files -> dv + survivor stats carry
    staged = _snap_add_files(
        spark.read.parquet(
            *[f"{table}/data/{f}" for f in clean]
        ).coalesce(1),
        table,
        "ccs",
    )
    snap_compact_optimistic(table, clean, staged)
    _, doc2 = _snap_doc(table)
    assert sorted(doc2.get("dv", {})) == dv_files  # dv carried
    survivors = [f for f in doc["files"] if f not in clean]
    assert all(f in doc2.get("stats", {}) for f in survivors)
    assert all(f not in doc2.get("stats", {}) for f in staged)
    assert snap_read_mor(spark, table, "event_id").count() == 198

    # (2): compacting the DV-carrying file refuses
    staged2 = _snap_add_files(
        spark.read.parquet(f"{table}/data/{dv_files[0]}").coalesce(1),
        table,
        "ccs2",
    )
    try:
        snap_compact_optimistic(table, [dv_files[0]], staged2)
        raise AssertionError("compacted through a DV-carrying source")
    except SnapCompactConflict:
        pass
    assert snap_read_mor(spark, table, "event_id").count() == 198


def test_dvb_bitmap_encode_decode_roundtrip():
    """Bitmap DV encoding pins: byte-level determinism (equal sets →
    equal entries), exact roundtrip at edge positions (0, byte
    boundaries, sparse high positions), empty set, and cardinality
    always matching the decoded set."""
    from steaminganalysis_spark.operators.storage import _dvb_decode, _dvb_encode

    for pos in (
        set(),
        {0},
        {7, 8, 9},  # byte boundary
        {0, 1, 2, 63, 64, 65},
        set(range(0, 1000, 7)),
        {123456},  # sparse high position
    ):
        e = _dvb_encode(pos)
        assert e["card"] == len(pos)
        assert _dvb_decode(e) == pos
        assert _dvb_encode(set(pos)) == e  # deterministic
    # unknown encodings refuse instead of silently mis-decoding
    import pytest as _pytest

    with _pytest.raises(ValueError):
        _dvb_decode({"enc": "roaring-v1", "b": "", "card": 0})


def test_dvb_lifecycle_compact_refusal_carry_and_append(spark):
    """Bitmap-DV lifecycle pins (the dv-map lessons re-applied):
    (1) compacting a dvb-carrying file REFUSES (raw-read rewrite
    would resurrect its deletes); (2) compacting OTHER files carries
    survivors' dvb entries verbatim; (3) an append carries the dvb
    map forward untouched (the r14 carry-all discipline); (4) the
    equality-key MoR reader refuses dvb tables loudly; (5) the MoR
    bitmap read over the post-compaction table still equals the
    expected survivor set."""
    import os

    import pytest as _pytest

    from steaminganalysis_spark.operators.storage import (
        SnapCompactConflict,
        _snap_add_files,
        _snap_add_files_with_stats,
        _snap_commit,
        _snap_doc,
        snap_append_optimistic,
        snap_compact_optimistic,
        snap_delete_bitmap,
        snap_read_mor,
        snap_read_mor_bitmap,
    )
    from steaminganalysis_spark.scratch import scratch_dir

    table = os.path.join(scratch_dir("dvb_pin"), "table")
    rows = spark.range(0, 400).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("val")
    )
    files, stats = _snap_add_files_with_stats(
        rows.repartitionByRange(4, "k").sortWithinPartitions("k"),
        table,
        "dvbp_base",
        ["k"],
    )
    _snap_commit(table, files, 0, stats=stats)

    # delete k % 10 == 1 from the FIRST file's span only (k < 100 is
    # within file spans; restrict so some files stay clean)
    snap_delete_bitmap(
        spark,
        table,
        spark.range(0, 100).select(F.col("id").alias("k")).filter(
            F.col("id") % 10 == 1
        ),
        "k",
    )
    _, doc = _snap_doc(table)
    dirty = sorted(doc["dvb"])
    clean = sorted(set(doc["files"]) - set(dirty))
    assert dirty and clean

    # (4) equality-key MoR refuses
    with _pytest.raises(ValueError):
        snap_read_mor(spark, table, "k")

    # (1) compacting a dirty file refuses
    staged = _snap_add_files(rows.limit(1), table, "dvbp_reject")
    with _pytest.raises(SnapCompactConflict):
        snap_compact_optimistic(table, [dirty[0]], staged)

    # (2) compacting clean files carries survivors' dvb verbatim
    clean_df = spark.read.parquet(
        *[os.path.join(table, "data", f) for f in clean]
    )
    merged = _snap_add_files(clean_df.coalesce(1), table, "dvbp_merge")
    snap_compact_optimistic(table, clean, merged)
    _, doc2 = _snap_doc(table)
    assert doc2["dvb"] == doc["dvb"]

    # (3) append carries dvb untouched
    extra = _snap_add_files(
        spark.range(1000, 1010).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("val")
        ),
        table,
        "dvbp_extra",
    )
    snap_append_optimistic(table, extra)
    _, doc3 = _snap_doc(table)
    assert doc3["dvb"] == doc["dvb"]

    # (5) MoR bitmap read: original minus deletes plus append
    got = sorted(
        r.k for r in snap_read_mor_bitmap(spark, table).select("k").collect()
    )
    expect = sorted(
        [k for k in range(400) if not (k % 10 == 1 and k < 100)]
        + list(range(1000, 1010))
    )
    assert got == expect


def test_commit_ts_is_commit_scoped_not_carried(spark):
    """commit_ts mixed-writer soundness (ADVICE r15): the carry-all
    spreads in snap_append_optimistic / snap_delete_bitmap /
    snap_rewrite_bitmap_deletes must NOT copy the predecessor's
    commit_ts into the successor — a plain append after a timestamped
    commit would otherwise make snap_resolve_as_of(ts) return rows
    committed AFTER ts (AS OF reading the future). Pin: successors of
    every non-timestamping writer carry NO commit_ts, AS OF still
    resolves to the timestamped version, and the timestamped-append
    writer itself keeps stamping monotonically afterwards."""
    import os

    from steaminganalysis_spark.operators.storage import (
        _snap_add_files,
        _snap_add_files_with_stats,
        _snap_commit_cas,
        _snap_doc,
        snap_append_optimistic,
        snap_commit_ts_append,
        snap_delete_bitmap,
        snap_resolve_as_of,
        snap_rewrite_bitmap_deletes,
    )
    from steaminganalysis_spark.scratch import scratch_dir

    table = os.path.join(scratch_dir("ctsmix"), "table")
    rows = spark.range(0, 300).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("val")
    )
    files, stats = _snap_add_files_with_stats(
        rows.repartitionByRange(3, "k").sortWithinPartitions("k"),
        table,
        "cts_base",
        ["k"],
    )
    assert _snap_commit_cas(table, files, 0, stats=stats, extra={"commit_ts": 1000})

    # plain append: new data, NO timestamp — must not inherit ts=1000
    extra = _snap_add_files(
        spark.range(5000, 5050).select(
            F.col("id").alias("k"), (F.col("id") * 3).alias("val")
        ),
        table,
        "cts_plain",
    )
    snap_append_optimistic(table, extra)
    _, doc1 = _snap_doc(table)
    assert "commit_ts" not in doc1, doc1.get("commit_ts")

    # bitmap delete: ditto
    snap_delete_bitmap(
        spark,
        table,
        spark.range(0, 100).select(F.col("id").alias("k")).filter(
            F.col("id") % 7 == 2
        ),
        "k",
    )
    _, doc2 = _snap_doc(table)
    assert "commit_ts" not in doc2

    # DV fold: ditto
    snap_rewrite_bitmap_deletes(spark, table)
    _, doc3 = _snap_doc(table)
    assert "commit_ts" not in doc3

    # AS OF any ts >= 1000 resolves to the v0 timestamped snapshot,
    # never to the later untimestamped versions holding future rows
    assert snap_resolve_as_of(table, 1000) == 0
    assert snap_resolve_as_of(table, 10**9) == 0

    # the timestamping writer still stamps fresh monotonic values on
    # top of untimestamped successors (its monotonic check compares
    # against the latest STAMPED predecessor... the latest doc has no
    # ts, so any ts is accepted; the log of stamped commits stays
    # monotonic by construction of this writer)
    more = _snap_add_files(
        spark.range(9000, 9010).select(
            F.col("id").alias("k"), (F.col("id") * 3).alias("val")
        ),
        table,
        "cts_more",
    )
    v = snap_commit_ts_append(table, more, 2000)
    assert snap_resolve_as_of(table, 2000) == v
    assert snap_resolve_as_of(table, 1999) == 0


def test_as_of_resolution_reads_one_log_file_steady_state(spark):
    """Snapshot-log sidecar (VERDICT r15 order #5): AS-OF-timestamp
    resolution must be O(1) file opens in steady state — ONE read of
    manifests/_snapshot_log.jsonl — not O(versions) manifest
    documents. The first resolution after out-of-band commits may
    self-heal (catch-up manifest reads, once); the next resolution
    opens exactly the log. Monotonicity vs the log's max stamped ts
    (not merely the predecessor's) is pinned too: after untimestamped
    successors, a stale-clock stamp at/below an earlier stamped
    commit still rejects."""
    import builtins
    import os

    import pytest as _pytest

    from steaminganalysis_spark.operators.storage import (
        _snap_add_files,
        _snap_commit_cas,
        snap_append_optimistic,
        snap_commit_ts_append,
        snap_resolve_as_of,
    )
    from steaminganalysis_spark.scratch import scratch_dir

    table = os.path.join(scratch_dir("tslog"), "table")
    mk = lambda lo, hi, tag: _snap_add_files(
        spark.range(lo, hi).select(F.col("id").alias("k")), table, tag
    )
    assert _snap_commit_cas(table, mk(0, 50, "tl0"), 0, extra={"commit_ts": 100})
    snap_commit_ts_append(table, mk(50, 80, "tl1"), 200)
    snap_append_optimistic(table, mk(80, 90, "tl2"))  # untimestamped
    snap_commit_ts_append(table, mk(90, 95, "tl3"), 300)

    # warm-up resolution self-heals the log (v0 and the plain append
    # entered out-of-band); correctness first
    assert snap_resolve_as_of(table, 250) == 1
    assert snap_resolve_as_of(table, 300) == 3

    real_open = builtins.open
    opened: list[str] = []

    def counting_open(path, *a, **kw):
        p = str(path)
        if p.startswith(table):
            opened.append(p)
        return real_open(path, *a, **kw)

    builtins.open = counting_open
    try:
        assert snap_resolve_as_of(table, 250) == 1
    finally:
        builtins.open = real_open
    assert len(opened) == 1 and opened[0].endswith("_snapshot_log.jsonl"), opened

    # stale clock: ts=150 is above NO stamped commit's predecessor
    # check (latest doc ts=300 catches it), but also pin the log-max
    # guard through an untimestamped head: append plain, then try 250
    snap_append_optimistic(table, mk(95, 99, "tl4"))
    with _pytest.raises(ValueError):
        snap_commit_ts_append(table, mk(99, 100, "tl5"), 250)


def test_auto_optimize_dv_crash_shape_converges_and_advance_conflicts(spark):
    """The r15 weak flag, pinned from both sides: (1) the exact shape
    that used to CRASH the maintenance loop — a small file carrying a
    bitmap DV selected by footer row count — now folds-then-compacts
    in one commit (deletes applied, dvb entry dropped, content
    preserved); (2) the dv_applied arm of snap_compact_optimistic
    CONFLICTS when a source's bitmap ADVANCES between the staged fold
    and the CAS (a concurrent delete added bits the staged bytes
    still contain — retrying through would resurrect them); (3) a
    pair-rows-dv small file is select-SKIPPED with the skip surfaced
    in the decision record, never crashed on."""
    import os

    import pytest as _pytest

    from steaminganalysis_spark.operators.storage import (
        SnapCompactConflict,
        _snap_add_files,
        _snap_add_files_with_stats,
        _snap_commit,
        _snap_doc,
        snap_auto_optimize,
        snap_compact_optimistic,
        snap_delete_bitmap,
        snap_read_mor_bitmap,
    )
    from steaminganalysis_spark.scratch import scratch_dir

    table = os.path.join(scratch_dir("aodvpin"), "table")
    rows = spark.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("grp")
    )
    big = _snap_add_files(
        rows.filter(F.col("k") < 900).repartitionByRange(2, "k"),
        table,
        "aop_big",
    )
    tiny = _snap_add_files(
        rows.filter(F.col("k") >= 900).coalesce(1), table, "aop_tiny"
    )
    _snap_commit(table, big + tiny, 0)
    snap_delete_bitmap(
        spark,
        table,
        spark.range(900, 1000).select(F.col("id").alias("k")).filter(
            F.col("id") % 3 == 0
        ),
        "k",
    )
    _, doc = _snap_doc(table)
    assert sorted(doc["dvb"]) == sorted(tiny)
    before = sorted(
        r.k for r in snap_read_mor_bitmap(spark, table).select("k").collect()
    )

    # (1) the r15 crash shape: selection catches the dvb-dirty tiny
    # file; the policy must fold+compact, not raise
    rec = snap_auto_optimize(spark, table, small_rows=150, target_rows=10**6)
    assert rec["folded"] == sorted(tiny) and rec["selected"] == sorted(tiny)
    _, doc1 = _snap_doc(table)
    assert not doc1.get("dvb")
    from steaminganalysis_spark.operators.storage import _snap_read

    after = sorted(r.k for r in _snap_read(spark, table).select("k").collect())
    assert after == before

    # (2) concurrent-advance conflict: stage a fold of the compacted
    # output file, then let a concurrent bitmap delete advance its DV
    # before the CAS — the commit must refuse, not resurrect
    target = [f for f in doc1["files"] if f not in set(big)]
    assert len(target) == 1
    snap_delete_bitmap(
        spark,
        table,
        spark.range(901, 903).select(F.col("id").alias("k")),
        "k",
    )
    _, doc2 = _snap_doc(table)
    applied = {target[0]: dict(doc2["dvb"][target[0]])}
    staged = _snap_add_files(
        snap_read_mor_bitmap(spark, table)
        .filter(F.col("k") >= 900)
        .coalesce(1),
        table,
        "aop_staged",
    )
    snap_delete_bitmap(  # the DV advances AFTER the fold was staged
        spark,
        table,
        spark.range(904, 906).select(F.col("id").alias("k")),
        "k",
    )
    with _pytest.raises(SnapCompactConflict, match="advanced"):
        snap_compact_optimistic(table, target, staged, dv_applied=applied)

    # (3) pair-rows-dv small files are select-skipped, surfaced
    table2 = os.path.join(scratch_dir("aodvpin2"), "table")
    t2 = _snap_add_files(rows.filter(F.col("k") >= 990).coalesce(1), table2, "p2")
    _snap_commit(table2, t2, 0)
    import json as _json

    v, d2 = _snap_doc(table2)
    # hand-plant a pair-rows dv entry (the r13 encoding)
    from steaminganalysis_spark.operators.storage import _snap_commit_cas

    assert _snap_commit_cas(
        table2, d2["files"], v + 1, extra={"dv": {t2[0]: ["fake_dv.parquet"]}}
    )
    rec2 = snap_auto_optimize(spark, table2, small_rows=150, target_rows=10**6)
    assert rec2["skipped_dv"] == t2 and rec2["selected"] == []


def test_bitmap_delete_retry_merge_deterministic_and_dead_layout_conflict(spark, monkeypatch):
    """Deterministic pins for the r16 bitmap-delete concurrency arms:
    (1) a FORCED CAS loss (a competitor's delete injected to land the
    contested version first) drives the retry-merge path — the loser
    ORs its sidecars with the winner's entries and the final manifest
    holds exactly the union, same-file rows included; (2) the
    non-commuting case — the target file compacted away between the
    scan and the CAS — raises SnapDeleteConflict rather than
    replaying positions onto a dead layout."""
    import os

    import pytest as _pytest

    import steaminganalysis_spark.operators.storage as st
    from steaminganalysis_spark.scratch import scratch_dir

    table = os.path.join(scratch_dir("dvbrace"), "table")
    rows = spark.range(0, 600).select(
        F.col("id").alias("k"), (F.col("id") % 5).alias("grp")
    )
    files, stats = st._snap_add_files_with_stats(
        rows.repartitionByRange(3, "k").sortWithinPartitions("k"),
        table,
        "dvbr_base",
        ["k"],
    )
    st._snap_commit(table, files, 0, stats=stats)

    orig_cas = st._snap_commit_cas
    state = {"armed": True}

    def racing_cas(t, f, v, **kw):
        if state["armed"] and t == table:
            state["armed"] = False
            # the competitor lands the contested version FIRST —
            # deletes k % 10 == 7 across all three files
            st.snap_delete_bitmap(
                spark,
                table,
                spark.range(0, 600).select(F.col("id").alias("k")).filter(
                    F.col("id") % 10 == 7
                ),
                "k",
            )
        return orig_cas(t, f, v, **kw)

    monkeypatch.setattr(st, "_snap_commit_cas", racing_cas)
    rec = st.snap_delete_bitmap(
        spark,
        table,
        spark.range(0, 600).select(F.col("id").alias("k")).filter(
            F.col("id") % 10 == 3
        ),
        "k",
    )
    monkeypatch.setattr(st, "_snap_commit_cas", orig_cas)
    assert rec["deleted_rows"] == 60  # ours only, relative to winner
    v, doc = st._snap_doc(table)
    assert v == 2
    card_sum = sum(e["card"] for e in doc["dvb"].values())
    assert card_sum == 120  # union of both writers, no double count
    got = sorted(
        r.k for r in st.snap_read_mor_bitmap(spark, table).select("k").collect()
    )
    assert got == [k for k in range(600) if k % 10 not in (3, 7)]

    # (2) dead layout: compact a target file away mid-delete
    state2 = {"armed": True}
    target_doc = doc

    def compacting_cas(t, f, v, **kw):
        if state2["armed"] and t == table:
            state2["armed"] = False
            # fold DVs then compact EVERYTHING into one file — every
            # original target of the in-flight delete disappears
            st.snap_rewrite_bitmap_deletes(spark, table)
            _, d = st._snap_doc(table)
            merged = st._snap_add_files(
                spark.read.parquet(
                    *[os.path.join(table, "data", x) for x in d["files"]]
                ).coalesce(1),
                table,
                "dvbr_squash",
            )
            st.snap_compact_optimistic(table, d["files"], merged)
        return orig_cas(t, f, v, **kw)

    monkeypatch.setattr(st, "_snap_commit_cas", compacting_cas)
    with _pytest.raises(st.SnapDeleteConflict):
        st.snap_delete_bitmap(
            spark,
            table,
            spark.range(0, 600).select(F.col("id").alias("k")).filter(
                F.col("id") % 10 == 9
            ),
            "k",
        )


def test_dv_fold_commutes_with_append_and_conflicts_on_advance(spark, monkeypatch):
    """r16: snap_rewrite_bitmap_deletes retries through a lost race
    against an APPEND (the fold never touches appended files — the
    compaction commute algebra), carrying the winner's files into its
    successor; a concurrent bitmap delete ADVANCING a dirty file's DV
    after the fold's scan conflicts instead (the staged replacements
    still contain those rows)."""
    import os

    import pytest as _pytest

    import steaminganalysis_spark.operators.storage as st
    from steaminganalysis_spark.scratch import scratch_dir

    table = os.path.join(scratch_dir("dvfoldrace"), "table")
    rows = spark.range(0, 400).select(F.col("id").alias("k"))
    files, stats = st._snap_add_files_with_stats(
        rows.repartitionByRange(2, "k").sortWithinPartitions("k"),
        table,
        "dfr_base",
        ["k"],
    )
    st._snap_commit(table, files, 0, stats=stats)
    st.snap_delete_bitmap(
        spark,
        table,
        spark.range(0, 400).select(F.col("id").alias("k")).filter(
            F.col("id") % 8 == 1
        ),
        "k",
    )

    orig_cas = st._snap_commit_cas
    state = {"armed": True}
    appended: list[str] = []

    def racing_cas(t, f, v, **kw):
        if state["armed"] and t == table:
            state["armed"] = False
            extra = st._snap_add_files(
                spark.range(5000, 5020).select(F.col("id").alias("k")),
                table,
                "dfr_extra",
            )
            appended.extend(extra)
            st.snap_append_optimistic(table, extra)
        return orig_cas(t, f, v, **kw)

    monkeypatch.setattr(st, "_snap_commit_cas", racing_cas)
    rec = st.snap_rewrite_bitmap_deletes(spark, table, stats_cols=["k"])
    monkeypatch.setattr(st, "_snap_commit_cas", orig_cas)
    _, doc = st._snap_doc(table)
    assert not doc.get("dvb")
    assert set(appended) <= set(doc["files"])  # winner's append carried
    got = sorted(r.k for r in st._snap_read(spark, table).select("k").collect())
    assert got == [k for k in range(400) if k % 8 != 1] + list(range(5000, 5020))

    # advance conflict: delete more rows between the fold's scan and
    # its CAS — the fold must refuse
    st.snap_delete_bitmap(
        spark,
        table,
        spark.range(0, 400).select(F.col("id").alias("k")).filter(
            F.col("id") % 8 == 2
        ),
        "k",
    )
    state2 = {"armed": True}

    def advancing_cas(t, f, v, **kw):
        if state2["armed"] and t == table:
            state2["armed"] = False
            st.snap_delete_bitmap(
                spark,
                table,
                spark.range(0, 400).select(F.col("id").alias("k")).filter(
                    F.col("id") % 8 == 3
                ),
                "k",
            )
        return orig_cas(t, f, v, **kw)

    monkeypatch.setattr(st, "_snap_commit_cas", advancing_cas)
    with _pytest.raises(st.SnapCompactConflict, match="advanced"):
        st.snap_rewrite_bitmap_deletes(spark, table)


def test_dvb_sidecar_content_hit_rearms_orphan_grace(tmp_path):
    """r17 fix (r16 ADVICE, medium): a content-addressed sidecar HIT
    must refresh the existing file's mtime. snap_expire's sidecar
    sweep protects pre-CAS staged sidecars only via the orphan-grace
    mtime check, so a byte-identical sidecar orphaned by an earlier
    fold+expire cycle would otherwise be sweepable between staging and
    the delete's CAS — leaving a committed manifest pointing at a
    missing dv/*.dvb."""
    import os
    import time
    import zlib

    from steaminganalysis_spark.operators.storage import _dvb_write_sidecar

    table = str(tmp_path / "t")
    comp = zlib.compress(b"\x0f\x00\x01", 9)
    rel = _dvb_write_sidecar(table, comp)
    path = os.path.join(table, rel)
    old = time.time() - 3600.0
    os.utime(path, (old, old))  # simulate an aged orphan
    rel2 = _dvb_write_sidecar(table, comp)
    assert rel2 == rel
    assert os.path.getmtime(path) > old + 3000.0, (
        "content-addressed hit did not re-arm the orphan grace window"
    )
