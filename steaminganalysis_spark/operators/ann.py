"""IVF and product-quantization approximate nearest neighbors
(SURVEY.md §2 B.9 scale path, alongside the hyperplane-LSH variant in
llm.py).

Classic IVF: a coarse k-means quantizer partitions the corpus into K
inverted lists; a query probes only the P nearest lists, so the scanned
fraction is ≈ P/K of the corpus instead of all of it.

Distributed shape: Lloyd iterations are DataFrame jobs (assignment =
broadcast-centroid argmin, update = per-dimension mean); ONLY the K×dim
centroid matrix ever reaches the driver (model parameters, a few KB) —
the corpus never does. At 100 TB the same loop runs unchanged; the
centroid collect stays K×dim.

Everything is deterministic: init = first K vectors by vec_id, fixed
iteration count, ties broken on ids.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from steaminganalysis_spark.functions import dot
from steaminganalysis_spark.operators.llm import _emb_double
from steaminganalysis_spark.registry import query
from steaminganalysis_spark.sources import load

IVF_K = 16  # coarse clusters
IVF_ITERS = 3  # Lloyd iterations (fixed → deterministic)
IVF_PROBES = 4  # clusters scanned per query


def _centroids_df(spark: SparkSession, cents: list[list[float]]) -> DataFrame:
    return spark.createDataFrame(
        [(i, c) for i, c in enumerate(cents)], "cid int, cv array<double>"
    )


def _assign(base: DataFrame, cdf: DataFrame, keep: int = 1) -> DataFrame:
    """Nearest-centroid assignment by cosine (argmax dot/|c|; vector
    norm is constant per row so it cannot change the argmax). keep>1
    returns the `keep` nearest lists (query probing).

    keep=1 (the training/encode hot path, runs once per Lloyd
    iteration over the whole corpus) is an argmax folded into a
    hash aggregate — ``min(struct(-sim, cid))`` — so partial
    aggregation happens map-side and no per-row sort/window shuffle
    ever materializes the K-times-expanded cross join. keep>1 keeps
    the window (it needs a ranking, and runs only on the tiny query
    set)."""
    cnorm = F.sqrt(dot(F.col("cv"), F.col("cv")))
    scored = base.crossJoin(F.broadcast(cdf)).withColumn(
        "sim", dot(F.col("v"), F.col("cv")) / cnorm
    )
    if keep == 1:
        # lexicographic min of (-sim, cid): best sim, cid tiebreak —
        # identical semantics to the window ranking below.
        best = scored.groupBy("vec_id").agg(
            F.min(F.struct((-F.col("sim")).alias("neg"), F.col("cid")))[
                "cid"
            ].alias("cid"),
        )
        return base.join(best, "vec_id")
    w = W.partitionBy("vec_id").orderBy(F.col("sim").desc(), F.col("cid"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= keep)
        .drop("cv", "sim", "rk")
    )


def train_ivf(
    spark: SparkSession, base: DataFrame, k: int = IVF_K, iters: int = IVF_ITERS
) -> list[list[float]]:
    """Deterministic distributed Lloyd: returns the K×dim centroid
    matrix (the only driver-side data)."""
    cents = [
        list(r.v) for r in base.orderBy("vec_id").limit(k).select("v").collect()
    ]
    for _ in range(iters):
        assigned = _assign(base, _centroids_df(spark, cents), keep=1)
        # per-dimension mean: posexplode → groupBy (cid, pos) → avg;
        # result is K×dim rows — tiny — collected as the new matrix
        dims = (
            assigned.select("cid", F.posexplode("v").alias("pos", "val"))
            .groupBy("cid", "pos")
            .agg(F.avg("val").alias("m"))
            .collect()
        )
        new = {}
        for r in dims:
            new.setdefault(r.cid, {})[r.pos] = r.m
        cents = [
            [new[c][p] for p in sorted(new[c])] if c in new else cents[c]
            for c in range(k)
        ]
    return cents


@query("q_sim_ann_ivf")  # rows-only: ANN recall is approximate by design
def sim_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: top-5 cosine neighbors for the first 50 query vectors,
    scanning only the IVF_PROBES nearest inverted lists per query
    (≈ P/K = 1/4 of the corpus). Same output shape as the brute-force
    q_sim_topk; recall vs exact is pinned in tests."""
    base = _emb_double(spark, sf_dir)
    cents = train_ivf(spark, base)
    cdf = _centroids_df(spark, cents)

    corpus = _assign(base, cdf, keep=1).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("v").alias("nv"),
        F.col("norm").alias("nnorm"),
        F.col("cid").alias("list_id"),
    )
    queries = _assign(base.filter(F.col("vec_id") < 50), cdf, keep=IVF_PROBES).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("norm").alias("qnorm"),
        F.col("cid").alias("list_id"),
    )
    # probe join: only same-list pairs are scored (the IVF pruning)
    pairs = queries.join(corpus, "list_id").filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    cos = dot(F.col("qv"), F.col("nv")) / (F.col("qnorm") * F.col("nnorm"))
    w = W.partitionBy("query_id").orderBy(
        F.round(F.col("cosine"), 6).desc(), F.col("neighbor_id")
    )
    return (
        pairs.select("query_id", "neighbor_id", cos.alias("cosine"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("query_id", "neighbor_id", F.round("cosine", 6).alias("cosine"), "rn")
    )


# ------------------------------------------------ persisted IVF index

def build_ivf_index(
    spark: SparkSession,
    base: DataFrame,
    index_dir: str,
    k: int = IVF_K,
    iters: int = IVF_ITERS,
) -> None:
    """Train and PERSIST the IVF index: centroids as a tiny parquet
    model file, corpus rows partitioned by inverted list
    (`list_id=<cid>/` dirs). Probing then touches only the P probed
    partitions — the same partition pruning that serves day-ranged
    scans, applied to vector search. Build once, query many times: the
    train cost amortizes the way a real feature store's does."""
    cents = train_ivf(spark, base, k=k, iters=iters)
    _centroids_df(spark, cents).write.mode("overwrite").parquet(
        f"{index_dir}/centroids"
    )
    corpus = _assign(base, _centroids_df(spark, cents), keep=1).select(
        F.col("vec_id"), F.col("v"), F.col("norm"), F.col("cid").alias("list_id")
    )
    corpus.write.mode("overwrite").partitionBy("list_id").parquet(
        f"{index_dir}/corpus"
    )


def query_ivf_index(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    topk: int = 5,
    probes: int = IVF_PROBES,
    store_name: str | None = None,
    scope: str = "",
) -> DataFrame:
    """Query a persisted IVF index: assign each query vector to its
    `probes` nearest centroids (centroid model is a broadcast-sized
    read), then scan ONLY those corpus partitions (partition filter on
    list_id) and rank exact cosine within them.

    For a STREAM-MAINTAINED index pass (store_name, scope): the corpus
    is then resolved through ``committed_ivf_corpus`` — the committed
    base version plus later delta runs — instead of the static
    ``corpus/`` dir, which compaction supersedes. The list_id
    partition filter prunes inside every run the same way."""
    cdf = spark.read.parquet(f"{index_dir}/centroids")
    q = _assign(queries, cdf, keep=probes).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("norm").alias("qnorm"),
        F.col("cid").alias("list_id"),
    )
    raw = (
        committed_ivf_corpus(spark, index_dir, store_name, scope)
        if store_name is not None
        else spark.read.parquet(f"{index_dir}/corpus")
    )
    corpus = raw.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("v").alias("nv"),
        F.col("norm").alias("nnorm"),
        "list_id",
    )
    pairs = q.join(corpus, "list_id").filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    cos = dot(F.col("qv"), F.col("nv")) / (F.col("qnorm") * F.col("nnorm"))
    w = W.partitionBy("query_id").orderBy(
        F.round(F.col("cosine"), 6).desc(), F.col("neighbor_id")
    )
    return (
        pairs.select("query_id", "neighbor_id", cos.alias("cosine"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= topk)
        .select("query_id", "neighbor_id", F.round("cosine", 6).alias("cosine"), "rn")
    )


# ------------------------------------------- product quantization (PQ)

PQ_M = 8  # subspaces (64-dim fixtures → 8 dims per subspace)
PQ_K = 16  # centroids per subspace (4-bit codes)
PQ_ITERS = 3  # Lloyd iterations per subspace (fixed → deterministic)
PQ_DIM = 64


def _l2(a, b):
    """Σ (a[i]-b[i])² via zip_with + fold (inputs already double)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _subvectors(base: DataFrame, id_col: str = "vec_id") -> DataFrame:
    """(id, m, sv): each vector split into PQ_M contiguous subvectors —
    a map-side explode, M small rows per vector."""
    sub_d = PQ_DIM // PQ_M
    subs = F.array(
        *[
            F.struct(
                F.lit(i).alias("m"),
                F.slice("v", i * sub_d + 1, sub_d).alias("sv"),
            )
            for i in range(PQ_M)
        ]
    )
    return base.select(id_col, F.explode(subs).alias("s")).select(
        id_col, "s.m", "s.sv"
    )


def _codebook_df(spark: SparkSession, cb: dict[tuple[int, int], list[float]]) -> DataFrame:
    return spark.createDataFrame(
        [(m, c, v) for (m, c), v in sorted(cb.items())],
        "m int, cid int, cv array<double>",
    )


def _pq_assign(sv: DataFrame, cdf: DataFrame, id_col: str = "vec_id") -> DataFrame:
    """Nearest-centroid code per (vector, subspace): broadcast the
    M×K codebook, argmin L2 with a cid tiebreak. The argmin is a
    lexicographic ``min(struct(d2, cid))`` hash aggregate — partial
    map-side, no sort/window shuffle over the K-times-expanded join."""
    scored = sv.join(F.broadcast(cdf), "m").withColumn(
        "d2", _l2(F.col("sv"), F.col("cv"))
    )
    return scored.groupBy(id_col, "m").agg(
        F.min(F.struct("d2", "cid"))["cid"].alias("cid")
    )


def train_pq(
    spark: SparkSession, base: DataFrame, iters: int = PQ_ITERS
) -> dict[tuple[int, int], list[float]]:
    """Deterministic distributed per-subspace Lloyd. Only the M×K×sub_d
    codebook (a few KB) ever reaches the driver; init is the first
    PQ_K vectors by vec_id, sliced per subspace."""
    sub_d = PQ_DIM // PQ_M
    first = base.orderBy("vec_id").limit(PQ_K).select("v").collect()
    cb = {
        (m, c): list(first[c].v[m * sub_d : (m + 1) * sub_d])
        for m in range(PQ_M)
        for c in range(PQ_K)
    }
    sv = _subvectors(base)
    for _ in range(iters):
        codes = _pq_assign(sv, _codebook_df(spark, cb))
        dims = (
            codes.join(sv, ["vec_id", "m"])
            .select("m", "cid", F.posexplode("sv").alias("pos", "val"))
            .groupBy("m", "cid", "pos")
            .agg(F.avg("val").alias("mu"))
            .collect()
        )
        new: dict[tuple[int, int], dict[int, float]] = {}
        for r in dims:
            new.setdefault((r.m, r.cid), {})[r.pos] = r.mu
        cb = {
            key: [d[p] for p in sorted(d)] if (d := new.get(key)) else cb[key]
            for key in cb
        }
    return cb


PQ_SHORTLIST = 50  # ADC candidates re-ranked exactly per query


@query("q_sim_ann_pq")  # rows-only: PQ shortlisting is approximate by design
def sim_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ ADC shortlist + exact re-rank (the standard production ANN
    pipeline): corpus vectors are compressed to M 4-bit codes; each
    query precomputes its M×K partial-dot table (broadcast, a few KB)
    and a neighbor's approximate dot is the sum of M table lookups —
    the corpus vectors are never touched during the shortlist scan.
    The ADC top-PQ_SHORTLIST per query is then re-scored exactly
    (fetch only the shortlisted vectors) and the exact top-5 returned.
    Output shape matches q_sim_topk; recall vs brute force is pinned
    in tests.

    Scale: the shortlist scan moves only (vec_id, m, cid) codes — at
    4 bits per subspace a ~64× compression of a float32 corpus — and
    the lookup join is a broadcast hash join with map-side partial
    aggregation of the M per-subspace terms; the exact phase touches
    Q×PQ_SHORTLIST vectors, not the corpus. In a full system the same
    codes ride inside IVF lists (IVF-PQ + re-rank); all pieces exist
    here."""
    base = _emb_double(spark, sf_dir)
    cdf = _codebook_df(spark, train_pq(spark, base))
    codes = _pq_assign(_subvectors(base), cdf)

    q = base.filter(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("norm").alias("qnorm"),
    )
    qsub = _subvectors(q.withColumnRenamed("qv", "v"), id_col="query_id")
    # per-query ADC table: partial dot of each query subvector with
    # each centroid — Q×M×K rows, broadcast to the code scan.
    table = qsub.join(F.broadcast(cdf), "m").select(
        "query_id", "m", "cid", dot(F.col("sv"), F.col("cv")).alias("pdot")
    )
    adot = (
        codes.join(F.broadcast(table), ["m", "cid"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum("pdot").alias("adot"))
    )
    ws = W.partitionBy("query_id").orderBy(
        F.col("adot").desc(), F.col("neighbor_id")
    )
    shortlist = (
        adot.withColumn("srk", F.row_number().over(ws))
        .filter(F.col("srk") <= PQ_SHORTLIST)
        .select("query_id", "neighbor_id")
    )
    # exact re-rank of the shortlist only: fetch the Q×PQ_SHORTLIST
    # candidate vectors and score true cosine.
    scored = (
        shortlist.join(
            base.select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("v").alias("nv"),
                F.col("norm").alias("nnorm"),
            ),
            "neighbor_id",
        )
        .join(F.broadcast(q), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            (dot(F.col("qv"), F.col("nv")) / (F.col("qnorm") * F.col("nnorm"))).alias(
                "cosine"
            ),
        )
    )
    w = W.partitionBy("query_id").orderBy(
        F.round(F.col("cosine"), 6).desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("query_id", "neighbor_id", F.round("cosine", 6).alias("cosine"), "rn")
    )


@query("q_sim_ann_ivfpq")  # rows-only: IVF routing + PQ shortlist, approximate
def sim_ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ — the composition that actually serves 100 TB vector
    search: a coarse quantizer routes each query to IVF_PROBES inverted
    lists (≈P/K of the corpus scanned), the scan within those lists
    runs over M×4-bit PQ codes via broadcast ADC table lookups (the
    raw vectors never move), and the ADC top-PQ_SHORTLIST is re-ranked
    exactly. Shuffle surface: codes carry only (vec_id, list_id, m,
    cid); the probe restriction is an equi-join on list_id; the exact
    phase touches Q×PQ_SHORTLIST vectors."""
    base = _emb_double(spark, sf_dir)
    cdf_coarse = _centroids_df(spark, train_ivf(spark, base))
    cdf_pq = _codebook_df(spark, train_pq(spark, base))

    lists = _assign(base, cdf_coarse, keep=1).select(
        "vec_id", F.col("cid").alias("list_id")
    )
    codes = _pq_assign(_subvectors(base), cdf_pq).join(lists, "vec_id")

    q = base.filter(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("norm").alias("qnorm"),
    )
    probes = _assign(
        base.filter(F.col("vec_id") < 50), cdf_coarse, keep=IVF_PROBES
    ).select(F.col("vec_id").alias("query_id"), F.col("cid").alias("list_id"))

    qsub = _subvectors(q.withColumnRenamed("qv", "v"), id_col="query_id")
    table = qsub.join(F.broadcast(cdf_pq), "m").select(
        "query_id", "m", "cid", dot(F.col("sv"), F.col("cv")).alias("pdot")
    )
    # probe restriction first (equi-join on list_id), then ADC lookups.
    # The broadcast table's key columns are renamed (tq/tm/tcid) so the
    # join condition uses unambiguous names — no reliance on
    # expression-ID resolution across self-join lineage (base feeds
    # both codes and table).
    cand = codes.join(F.broadcast(probes), "list_id").filter(
        F.col("vec_id") != F.col("query_id")
    )
    tbl = table.select(
        F.col("query_id").alias("tq"),
        F.col("m").alias("tm"),
        F.col("cid").alias("tcid"),
        "pdot",
    )
    adot = (
        cand.join(
            F.broadcast(tbl),
            (F.col("tq") == F.col("query_id"))
            & (F.col("tm") == F.col("m"))
            & (F.col("tcid") == F.col("cid")),
        )
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum("pdot").alias("adot"))
    )
    ws = W.partitionBy("query_id").orderBy(F.col("adot").desc(), F.col("neighbor_id"))
    shortlist = (
        adot.withColumn("srk", F.row_number().over(ws))
        .filter(F.col("srk") <= PQ_SHORTLIST)
        .select("query_id", "neighbor_id")
    )
    scored = (
        shortlist.join(
            base.select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("v").alias("nv"),
                F.col("norm").alias("nnorm"),
            ),
            "neighbor_id",
        )
        .join(F.broadcast(q), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            (dot(F.col("qv"), F.col("nv")) / (F.col("qnorm") * F.col("nnorm"))).alias(
                "cosine"
            ),
        )
    )
    w = W.partitionBy("query_id").orderBy(
        F.round(F.col("cosine"), 6).desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("query_id", "neighbor_id", F.round("cosine", 6).alias("cosine"), "rn")
    )


KMEANS_K = 8
KMEANS_ITERS = 3


@query("q_cluster_kmeans")  # rows-only: float centroids are engine-specific
def cluster_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means clustering as a first-class operator (the curation use:
    topic/slice discovery over an embedding corpus, the step before
    per-cluster sampling or SemDeDup pruning) — not just the internal
    routing step of the IVF index. Reuses the deterministic distributed
    Lloyd trainer (``train_ivf``: K×dim driver transfer per iteration,
    nothing else leaves the executors) and the map-side argmax
    assignment (``_assign`` keep=1 — a broadcast cross join folded into
    a hash aggregate, no window). Emits the per-cluster profile: size,
    majority ground-truth label (min-label tie-break) and exact ppm
    purity — on this deliberately structure-free fixture purity sits
    near the 1/|labels| floor, which the invariant test asserts rather
    than hides. Rows-only: centroid floats are summation-order
    sensitive; the pinned test instead recomputes the assignment in
    numpy from the SAME centroids and requires identical cluster
    memberships (tests/test_llm_and_approx.py)."""
    base = _emb_double(spark, sf_dir)
    cents = train_ivf(spark, base, k=KMEANS_K, iters=KMEANS_ITERS)
    assigned = _assign(base, _centroids_df(spark, cents), keep=1)
    labels = load(spark, sf_dir, "embeddings").select("vec_id", "label")
    per_cluster_label = (
        assigned.join(labels, "vec_id")
        .groupBy("cid", "label")
        .agg(F.count("*").alias("nl"))
    )
    w = W.partitionBy("cid").orderBy(F.col("nl").desc(), "label")
    top = per_cluster_label.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") == 1
    )
    sizes = per_cluster_label.groupBy("cid").agg(F.sum("nl").alias("n_vectors"))
    return (
        sizes.join(top.select("cid", "label", "nl"), "cid")
        .select(
            F.col("cid").cast("long").alias("cid"),
            F.col("n_vectors").cast("long").alias("n_vectors"),
            F.col("label").cast("long").alias("majority_label"),
            F.col("nl").cast("long").alias("n_majority"),
            F.expr("(nl * 1000000) div n_vectors").alias("purity_ppm"),
        )
    )


# ------------------------------- streaming IVF maintenance (round 9)
#
# A production 100 TB similarity system never rebuilds its index from
# scratch — the corpus grows continuously and new vectors must become
# searchable within a micro-batch. The standard shape (FAISS / Milvus
# style, re-expressed on Spark): FREEZE the coarse quantizer (the K×dim
# centroid model, retrained offline on a cadence), assign each arriving
# batch to its inverted lists with the same broadcast-argmin used at
# build time, and append the batch as an immutable LSM-style delta run
# partitioned by list_id. Readers union the base index with the
# committed runs; q_compact_small_files is the compaction story when
# runs accumulate. Exactly-once across crash-replays comes from
# ``sinks.exactly_once``, the protocol every foreachBatch body shares:
# the delta run for batch b is (re)written BEFORE the watermark
# advances, and a replayed committed id is skipped without touching
# the index.

IVF_STREAM_MARKER = "ann-last-applied"
IVF_COMPACT_MARKER = "ann-compacted-through"


def append_ivf_batch(
    batch_df: DataFrame,
    batch_id: int,
    index_dir: str,
    store_name: str,
    scope: str,
) -> None:
    """foreachBatch body: assign the micro-batch against the FROZEN
    centroid model (broadcast-sized read; the corpus never shuffles),
    write delta run ``delta-v{batch_id}/`` partitioned by inverted
    list, then advance the watermark. Idempotent: a replayed committed
    batch id is a no-op, and a crash between write and commit replays
    into an identical overwrite (the run is a pure function of
    (model, batch))."""
    from steaminganalysis_spark.streaming.sinks import KEY_PREFIX, exactly_once

    def append() -> None:
        cdf = batch_df.sparkSession.read.parquet(f"{index_dir}/centroids")
        assigned = _assign(batch_df, cdf, keep=1).select(
            "vec_id", "v", "norm", F.col("cid").alias("list_id")
        )
        assigned.write.mode("overwrite").partitionBy("list_id").parquet(
            f"{index_dir}/delta-v{batch_id}"
        )

    exactly_once(store_name, f"{KEY_PREFIX}{IVF_STREAM_MARKER}:{scope}", batch_id, append)


def committed_ivf_corpus(
    spark: SparkSession, index_dir: str, store_name: str, scope: str
) -> DataFrame:
    """The searchable corpus: base index ∪ every delta run at or below
    the committed watermark. Runs above it (torn writes from a crashed
    batch) are invisible until their batch replays and commits —
    readers only ever see index states that some prefix of the stream
    fully produced."""
    from steaminganalysis_spark.streaming.sinks import KEY_PREFIX, KVStore

    store = KVStore.instance(store_name)
    cur = store.last_applied(f"{KEY_PREFIX}{IVF_STREAM_MARKER}:{scope}")
    compacted = store.last_applied(f"{KEY_PREFIX}{IVF_COMPACT_MARKER}:{scope}")
    base = "corpus" if compacted < 0 else f"corpus-v{compacted}"
    out = spark.read.parquet(f"{index_dir}/{base}")
    for b in range(compacted + 1, cur + 1):
        out = out.unionByName(spark.read.parquet(f"{index_dir}/delta-v{b}"))
    return out


@query("q_stream_ann_index")  # rows-only: assignments depend on k-means floats
def stream_ann_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ANN index maintenance: build the persisted IVF index
    over the initial corpus half (vec_id % 4 < 2 — trains the frozen
    quantizer AND writes the base inverted lists), then stream the
    other half in two time-ordered micro-batches (% 4 == 2, % 4 == 3)
    through ``append_ivf_batch``. Returns the final committed index
    assignment (vec_id, list_id) for the ENTIRE corpus.

    Contract (pinned in tests/test_streaming.py): the streamed index
    is EXACTLY the batch-built one under the same frozen quantizer —
    assignments equal ``_assign(full corpus, model)`` row for row
    (stream ≡ batch), and replayed batch ids leave the index
    byte-identical (idempotence). Rows-only for the driver: the
    assignment depends on Lloyd-iterated float centroids, which no
    portable SQL restates; the equivalence pin is the certificate.
    Reference parity: the reference's only stateful maintenance is the
    Redis rollup (KafkaApp:63-79); continuous index maintenance is the
    engine-extension analogue for the similarity surface."""
    import glob
    import os
    import shutil
    import time
    import uuid

    from steaminganalysis_spark.scratch import scratch_dir

    run = uuid.uuid4().hex[:8]
    tmp = scratch_dir("stream_ann")
    base = _emb_double(spark, sf_dir)
    initial = base.filter(F.col("vec_id") % 4 < 2)
    index_dir = os.path.join(tmp, "index")
    build_ivf_index(spark, initial, index_dir)
    # the two arriving batches, replayed as mtime-ordered files
    src = os.path.join(tmp, "src")
    os.makedirs(src)
    now = time.time()
    for i, part in enumerate(
        (
            base.filter(F.col("vec_id") % 4 == 2),
            base.filter(F.col("vec_id") % 4 == 3),
        )
    ):
        d = os.path.join(tmp, f"b{i}")
        part.coalesce(1).write.parquet(d)
        dst = os.path.join(src, f"b{i}.parquet")
        shutil.copy(glob.glob(os.path.join(d, "part-*.parquet"))[0], dst)
        os.utime(dst, (now + i, now + i))
    stream = (
        spark.readStream.schema("vec_id long, v array<double>, norm double")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    from steaminganalysis_spark.streaming.sinks import KVStore, exactly_once_sink

    store_name = f"stream_ann_{run}"
    writer, scope = exactly_once_sink(
        stream,
        os.path.join(tmp, f"ckpt_{run}"),
        lambda df, bid, scope: append_ivf_batch(df, bid, index_dir, store_name, scope),
    )
    q = writer.start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    out = (
        committed_ivf_corpus(spark, index_dir, store_name, scope)
        .select("vec_id", F.col("list_id").cast("int").alias("list_id"))
        .localCheckpoint(eager=True)  # detach from scratch before cleanup
    )
    KVStore.reset(store_name)
    return out


def compact_ivf_index(
    spark: SparkSession, index_dir: str, store_name: str, scope: str
) -> None:
    """LSM compaction for the streamed IVF index: fold every committed
    delta run into the base inverted lists and drop the runs — the
    maintenance a real deployment schedules when run count grows (each
    run adds one file-listing + scan branch per query; compaction
    restores the single-dir layout, same motivation as
    ``q_compact_small_files``). Readers are never wrong meanwhile:
    ``committed_ivf_corpus`` over (base + runs) and over the compacted
    base is the same multiset — compaction moves bytes, not truth
    (pinned in tests/test_streaming.py). Crash discipline mirrors the
    MV version store: the folded corpus is written to a NEW versioned
    dir ``corpus-v{cur}``, then the compacted-through watermark
    advances atomically — before the flip readers resolve old base +
    runs, after it the new base + later runs; both reconstruct the
    identical corpus at every crash point (no rename-then-mark window
    where runs would double-count). Superseded run/base dirs are
    garbage, removed last, re-collected by the next compaction if a
    crash strands them."""
    import os
    import shutil

    from steaminganalysis_spark.streaming.sinks import KEY_PREFIX, KVStore

    store = KVStore.instance(store_name)
    cur = store.last_applied(f"{KEY_PREFIX}{IVF_STREAM_MARKER}:{scope}")
    compacted = store.last_applied(f"{KEY_PREFIX}{IVF_COMPACT_MARKER}:{scope}")
    if cur <= compacted:
        return  # nothing to fold
    merged = committed_ivf_corpus(spark, index_dir, store_name, scope)
    merged.write.mode("overwrite").partitionBy("list_id").parquet(
        f"{index_dir}/corpus-v{cur}"
    )
    store.apply_batch(cur, [], f"{KEY_PREFIX}{IVF_COMPACT_MARKER}:{scope}")
    # GC of superseded dirs (pure garbage once the marker moved)
    old_base = "corpus" if compacted < 0 else f"corpus-v{compacted}"
    shutil.rmtree(os.path.join(index_dir, old_base), ignore_errors=True)
    for b in range(compacted + 1, cur + 1):
        shutil.rmtree(os.path.join(index_dir, f"delta-v{b}"), ignore_errors=True)


# ---------- fixed-point portable k-means (r14)

KMFX_Q = 4096.0  # 2^12 quantization scale (power of two — IEEE-exact)
KMFX_K = 8
KMFX_ITERS = 3


def _kmfx_ctes(train_where: str = "") -> list[str]:
    """Chained-MATERIALIZED-CTE restatement of fixed-point Lloyd:
    quantize FLOOR(x·2^12), seed centroids from the K lowest vec_ids,
    then per round assign by integer squared distance (ties to the
    lowest cluster id) and update each centroid as the FLOOR-mean of
    its members (non-negative divisions only; empty clusters keep
    their previous centroid). Every step is integer-exact, so any
    rollup of the final memberships (``asg{KMFX_ITERS-1}``) or of the
    final centroid relation (``cent{KMFX_ITERS}``) hash-checks across
    engines. ``train_where`` restricts the TRAINING relation ``e``
    (the q_table_ann_index_commits oracle trains on the v0 corpus
    subset, then assigns the full corpus against the frozen model)."""
    cte = [
        f"""e AS MATERIALIZED (
      SELECT vec_id, t.d,
             CAST(FLOOR(CAST(embedding[t.d + 1] AS DOUBLE) * {KMFX_Q}) AS BIGINT) AS q
      FROM embeddings, range(64) t(d) {train_where}
    )""",
        f"""seed AS MATERIALIZED (
      SELECT vec_id, DENSE_RANK() OVER (ORDER BY vec_id) - 1 AS k
      FROM (SELECT DISTINCT vec_id FROM embeddings {train_where}
            ORDER BY vec_id LIMIT {KMFX_K})
    )""",
        """cent0 AS MATERIALIZED (
      SELECT s.k, e.d, e.q AS m FROM e JOIN seed s USING (vec_id)
    )""",
    ]
    for t in range(KMFX_ITERS):
        cte.append(
            f"""dist{t} AS MATERIALIZED (
      SELECT e.vec_id, c.k,
             CAST(SUM((e.q - c.m) * (e.q - c.m)) AS BIGINT) AS d2
      FROM e JOIN cent{t} c ON e.d = c.d GROUP BY 1, 2
    )"""
        )
        cte.append(
            f"""asg{t} AS MATERIALIZED (
      SELECT vec_id, k FROM (
        SELECT vec_id, k,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, k) AS rn
        FROM dist{t}
      ) WHERE rn = 1
    )"""
        )
        cte.append(
            f"""cent{t + 1} AS MATERIALIZED (
      SELECT c.k, c.d,
             COALESCE(
               CAST(CASE WHEN u.s >= 0 THEN u.s // u.n
                         ELSE -((-u.s + u.n - 1) // u.n) END AS BIGINT),
               c.m) AS m
      FROM cent{t} c
      LEFT JOIN (
        SELECT a.k, e.d, SUM(e.q) AS s, COUNT(*) AS n
        FROM e JOIN asg{t} a USING (vec_id) GROUP BY 1, 2
      ) u ON u.k = c.k AND u.d = c.d
    )"""
        )
    return cte


def _kmfx_oracle() -> str:
    """q_cluster_kmeans_portable's oracle: full-corpus fixed-point
    Lloyd, membership rollup of the final assignment."""
    return (
        "WITH "
        + ",\n".join(_kmfx_ctes())
        + f"""
    SELECT CAST(k AS INT) AS k,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           CAST(MIN(vec_id) AS BIGINT) AS min_vec_id,
           CAST(SUM(vec_id) AS BIGINT) AS sum_vec_id
    FROM asg{KMFX_ITERS - 1} GROUP BY 1 ORDER BY 1"""
    )


def _annix_oracle() -> str:
    """q_table_ann_index_commits' oracle: train the fixed-point
    quantizer on the v0 corpus subset (vec_id % 4 < 2 — exactly the
    rows the Spark side commits as corpus v0), freeze ``cent{N}`` (the
    centroids after the final Lloyd update), then assign EVERY corpus
    vector against the frozen model — the from-scratch restatement of
    what the incremental index maintenance must converge to."""
    n = KMFX_ITERS
    return (
        "WITH "
        + ",\n".join(_kmfx_ctes(train_where="WHERE vec_id % 4 < 2"))
        + f""",
    eall AS MATERIALIZED (
      SELECT vec_id, t.d,
             CAST(FLOOR(CAST(embedding[t.d + 1] AS DOUBLE) * {KMFX_Q}) AS BIGINT) AS q
      FROM embeddings, range(64) t(d)
    ),
    fdist AS MATERIALIZED (
      SELECT eall.vec_id, c.k,
             CAST(SUM((eall.q - c.m) * (eall.q - c.m)) AS BIGINT) AS d2
      FROM eall JOIN cent{n} c ON eall.d = c.d GROUP BY 1, 2
    )
    SELECT CAST(vec_id AS BIGINT) AS vec_id, CAST(k AS INT) AS list_id
    FROM (
      SELECT vec_id, k,
             ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, k) AS rn
      FROM fdist
    ) WHERE rn = 1 ORDER BY vec_id"""
    )


def _kmfx_quantize(df: DataFrame, vcol: str = "v") -> DataFrame:
    """(vec_id, v:array<double>) → exploded (vec_id, d, q) with
    q = FLOOR(v[d]·2^12): power-of-two scale, IEEE-exact, so both
    engines quantize the same doubles to the same int64s."""
    return df.select(
        "vec_id",
        F.posexplode(
            F.transform(
                F.col(vcol), lambda x: F.floor(x * F.lit(KMFX_Q)).cast("long")
            )
        ).alias("d", "q"),
    )


def _kmfx_centdf(spark: SparkSession, cent: dict, dim: int) -> DataFrame:
    """The K×dim integer centroid relation (model parameters — the
    only driver-side data, a few KB), broadcast."""
    return F.broadcast(
        spark.createDataFrame(
            [(k, d, cent[(k, d)]) for k in range(KMFX_K) for d in range(dim)],
            "k int, d int, m long",
        )
    )


def _kmfx_argmin(q: DataFrame, cdf: DataFrame) -> DataFrame:
    """Nearest fixed-point centroid: integer squared distance, ties to
    the lowest cluster id. min(struct(d2, k)) is the lexicographic min
    — identical semantics to a (d2, k) row_number ranking, but folded
    into a hash aggregate so partial aggregation happens map-side and
    no per-vector window sort ever shuffles (the _assign keep=1
    lesson). Returns (vec_id, k)."""
    return (
        q.join(cdf, "d")
        .groupBy("vec_id", "k")
        .agg(
            F.sum((F.col("q") - F.col("m")) * (F.col("q") - F.col("m"))).alias(
                "d2"
            )
        )
        .groupBy("vec_id")
        .agg(F.min(F.struct("d2", "k"))["k"].alias("k"))
    )


def _kmfx_train(
    spark: SparkSession, q: DataFrame, dim: int = 64
) -> tuple[dict, DataFrame]:
    """Fixed-point Lloyd over an exploded quantized relation: seed
    from the K lowest vec_ids, run KMFX_ITERS assign+floor-mean-update
    rounds (empty clusters keep their centroid). Returns the FROZEN
    integer centroid dict (after the final update — ``cent{N}`` in the
    oracle CTEs) and the final-round assignment (``asg{N-1}``). Only
    K×dim integers reach the driver per round."""
    seed_ids = [
        r.vec_id
        for r in q.select("vec_id").distinct().orderBy("vec_id").limit(
            KMFX_K
        ).collect()
    ]
    rank = {vid: i for i, vid in enumerate(seed_ids)}
    cent = {
        (rank[r["vec_id"]], r["d"]): int(r["q"])
        for r in q.filter(F.col("vec_id").isin(seed_ids)).collect()
    }
    asg = None
    for _ in range(KMFX_ITERS):
        cdf = _kmfx_centdf(spark, cent, dim)
        asg = _kmfx_argmin(q, cdf).localCheckpoint()
        upd = {
            (r["k"], r["d"]): (int(r["s"]), int(r["n"]))
            for r in q.join(asg, "vec_id")
            .groupBy("k", "d")
            .agg(F.sum("q").alias("s"), F.count(F.lit(1)).alias("n"))
            .collect()
        }
        cent = {
            (k, d): (
                upd[(k, d)][0] // upd[(k, d)][1]  # Python // IS floor
                if (k, d) in upd
                else cent[(k, d)]
            )
            for k in range(KMFX_K)
            for d in range(dim)
        }
    return cent, asg


# ---------- ANN index maintenance as snapshot-table commits (r14)


def _frozen_assign(
    spark: SparkSession, index_dir: str, corpus: DataFrame
) -> DataFrame:
    """Assign corpus rows (vec_id, v, …) against the frozen quantizer
    persisted under ``index_dir``: the FIXED-POINT integer centroids
    (``centroids_fx``, the oracle-exact kernel) when present, else the
    float cosine quantizer (``centroids``, the q_stream_ann_index
    lineage). Returns (vec_id, list_id)."""
    import os

    if os.path.isdir(f"{index_dir}/centroids_fx"):
        cdf = F.broadcast(spark.read.parquet(f"{index_dir}/centroids_fx"))
        return _kmfx_argmin(_kmfx_quantize(corpus), cdf).select(
            "vec_id", F.col("k").alias("list_id")
        )
    cdf = spark.read.parquet(f"{index_dir}/centroids")
    return _assign(corpus, cdf, keep=1).select(
        "vec_id", F.col("cid").alias("list_id")
    )


def snap_ann_index_update(
    spark: SparkSession,
    corpus_table: str,
    index_table: str,
    index_dir: str,
    max_retries: int = 20,
) -> dict:
    """Advance the committed IVF index to the corpus table's latest
    version (VERDICT r13 order #6): resolve the index manifest's
    ``covers_corpus_version`` marker, plan the corpus delta with
    snap_read_incremental — on an append-shaped range that is the
    APPENDS FAST PATH, touching ONLY the added corpus files — assign
    just those rows against the frozen quantizer, and CAS-append the
    new assignment shards with the marker advanced to the covered
    version. Returns the decision record: {"strategy", "from", "to",
    "delta_files" (the corpus files actually read), "index_version"}.

    Crash/replay: the marker and the shard list ride the SAME
    manifest commit, so an index version either covers a corpus
    version completely or doesn't exist — the Delta txn pattern the
    streaming ingest sink uses, applied to index maintenance. A
    rebuild after one day's append to a 100 TB corpus costs one
    assignment pass over that day's files; everything else is
    manifest arithmetic."""
    from steaminganalysis_spark.operators.storage import (
        _snap_add_files,
        _snap_commit_cas,
        _snap_doc,
        _snap_versions,
        snap_read_incremental,
    )

    corpus_latest = max(_snap_versions(corpus_table))
    iv, idoc = _snap_doc(index_table)
    covered = idoc["covers_corpus_version"]
    if corpus_latest == covered:
        return {
            "strategy": "noop",
            "from": covered,
            "to": covered,
            "delta_files": [],
            "index_version": iv,
        }
    delta, strategy = snap_read_incremental(
        spark, corpus_table, covered, corpus_latest, key_col="vec_id"
    )
    # the decision record's "touched files" is only meaningful on the
    # fast path (the diff fallback is a multi-source classification
    # plan — input_file_name is undefined over it, and "touches only
    # added files" is exactly the property the fallback cannot claim)
    touched = (
        sorted(
            r.f
            for r in delta.select(
                F.element_at(F.split(F.input_file_name(), "/"), -1).alias(
                    "f"
                )
            )
            .distinct()
            .collect()
        )
        if strategy == "appends-fast-path"
        else []
    )
    assigned = _frozen_assign(spark, index_dir, delta)
    shards = _snap_add_files(assigned.coalesce(1), index_table, "annix_shard")
    for _ in range(max_retries):
        v, doc = _snap_doc(index_table)
        if doc["covers_corpus_version"] >= corpus_latest:
            return {  # a concurrent updater already covered it
                "strategy": "lost-race",
                "from": covered,
                "to": doc["covers_corpus_version"],
                "delta_files": touched,
                "index_version": v,
            }
        if _snap_commit_cas(
            index_table,
            doc["files"] + shards,
            v + 1,
            extra={"covers_corpus_version": corpus_latest},
        ):
            return {
                "strategy": strategy,
                "from": covered,
                "to": corpus_latest,
                "delta_files": touched,
                "index_version": v + 1,
            }
    raise RuntimeError(f"index update lost {max_retries} races")


@query("q_table_ann_index_commits", oracle=_annix_oracle())
def table_ann_index_commits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN INDEX MAINTENANCE AS TABLE COMMITS (VERDICT r13 order #6;
    ORACLE-EXACT since r15 via the fixed-point kernel, VERDICT r14
    order #2) — the streamed IVF index's LSM discipline re-based onto
    the snapshot table, composing three existing pieces: the corpus is
    a snapshot TABLE (v0 = vec_id % 4 < 2, v1 appends the rest), the
    index is a second snapshot table whose manifest carries a
    ``covers_corpus_version`` marker alongside its shard list (one
    commit = one covered corpus version, the txn-marker pattern), and
    the incremental update plans the corpus delta through
    snap_read_incremental's APPENDS FAST PATH. Asserted live from the
    decision record: the update strategy IS the fast path and the
    corpus files it read are EXACTLY v1's appended files — an index
    rebuild after an append touches only added data. Stream≡batch:
    the incrementally-maintained index equals a from-scratch
    assignment of the full corpus under the same frozen quantizer,
    row for row (asserted live); a second update call is a committed
    no-op (idempotence, asserted).

    The quantizer is the FIXED-POINT Lloyd kernel
    (q_cluster_kmeans_portable's), trained on the committed v0 read
    and frozen as an INTEGER centroid relation, so every assignment —
    seed, incremental, rebuild — is int64-exact and the WHOLE
    maintained index hash-checks against a from-scratch DuckDB
    restatement (train on v0, assign all): the ANN-maintenance story
    is oracle-exact end-to-end, replacing the r14 rows-only row. The
    float-quantizer path remains in _frozen_assign for the
    q_stream_ann_index lineage.

    100 TB: a day's corpus append costs one assignment pass over that
    day's files + one manifest CAS; the index never rebuilds from
    scratch and readers always see an index state that covers a
    committed corpus version exactly. Reference parity: none (engine
    extension; SURVEY §2 B.9 scale path)."""
    import os

    from steaminganalysis_spark.operators.storage import (
        _snap_add_files,
        _snap_commit_cas,
        _snap_doc,
        _snap_read,
        snap_append_optimistic,
    )
    from steaminganalysis_spark.scratch import scratch_dir

    tmp = scratch_dir("annix_root")
    corpus_table = os.path.join(tmp, "corpus")
    index_table = os.path.join(tmp, "index")
    index_dir = os.path.join(tmp, "model")

    base = _emb_double(spark, sf_dir)
    initial = base.filter(F.col("vec_id") % 4 < 2)
    f0 = _snap_add_files(initial.repartition(2), corpus_table, "cx0")
    _snap_commit_cas(corpus_table, f0, 0)

    # frozen FIXED-POINT quantizer trained on the committed v0 read:
    # integer centroids persist as the model, so every later
    # assignment is engine-portable (int64 distances, lowest-k ties)
    cent, _ = _kmfx_train(
        spark, _kmfx_quantize(_snap_read(spark, corpus_table, 0))
    )
    _kmfx_centdf(spark, cent, 64).write.mode("overwrite").parquet(
        f"{index_dir}/centroids_fx"
    )
    seed = _frozen_assign(spark, index_dir, _snap_read(spark, corpus_table, 0))
    s0 = _snap_add_files(seed.coalesce(1), index_table, "ix0")
    _snap_commit_cas(index_table, s0, 0, extra={"covers_corpus_version": 0})

    # corpus append -> incremental index update
    fd = _snap_add_files(
        base.filter(F.col("vec_id") % 4 >= 2).repartition(2),
        corpus_table,
        "cxd",
    )
    snap_append_optimistic(corpus_table, fd)
    rec = snap_ann_index_update(spark, corpus_table, index_table, index_dir)
    if rec["strategy"] != "appends-fast-path":
        raise RuntimeError(f"index update took {rec['strategy']}")
    if rec["delta_files"] != sorted(fd):
        raise RuntimeError(
            f"update read {rec['delta_files']}, not the appended {sorted(fd)}"
        )

    # idempotence: a second update is a committed no-op
    rec2 = snap_ann_index_update(spark, corpus_table, index_table, index_dir)
    if rec2["strategy"] != "noop" or rec2["index_version"] != rec["index_version"]:
        raise RuntimeError(f"re-update was not a no-op: {rec2}")

    # stream≡batch: incremental index == full rebuild under the same model
    ix = _snap_read(spark, index_table).select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("list_id").cast("int").alias("list_id"),
    )
    full = _frozen_assign(
        spark, index_dir, _snap_read(spark, corpus_table)
    ).select("vec_id", F.col("list_id").cast("int").alias("list_id"))
    if ix.count() != full.count() or ix.exceptAll(full).count() != 0:
        raise RuntimeError("incremental index diverged from full rebuild")

    _, idoc = _snap_doc(index_table)
    if idoc["covers_corpus_version"] != 1:
        raise RuntimeError("index manifest marker did not advance")

    return ix.orderBy("vec_id").localCheckpoint()


@query("q_cluster_kmeans_portable", oracle=_kmfx_oracle())
def cluster_kmeans_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLE-EXACT K-MEANS (VERDICT r13 order #9, the second
    portable-discipline conversion after q_emb_pca_power_portable):
    Lloyd's loop re-expressed in pure int64 arithmetic so both engines
    compute the IDENTICAL memberships — embeddings quantize by
    FLOOR(x·2^12) (power-of-two scale, IEEE-exact), distances are
    integer squared-distance sums (exact, order-free), the argmin
    breaks ties toward the lowest cluster id, and the centroid update
    is the FLOOR-mean (integer division on non-negative operands only,
    where truncation equals floor on both engines; empty clusters keep
    their previous centroid). The float version (q_cluster_kmeans)
    stays rows-only for the reasons documented there; this key proves
    the ALGORITHM cross-engine by hash-checking the per-cluster
    membership rollup after 3 rounds from the deterministic
    first-K-vec_ids seeding. The pinned test certifies the fixed-point
    memberships agree overwhelmingly with float Lloyd from the same
    seeds (so exactness is not bought with meaninglessness) and that
    every intermediate fits int64 with headroom.

    Bounds: |q−m| ≤ 2^14, squared ≤ 2^28, ×64 dims ≤ 2^34 per
    distance; centroid sums ≤ n·2^13 — int64-safe at any realistic n.

    Scale shape: per round, one equi-join of the exploded quantized
    relation against the K×dim centroid relation (broadcast-sized) +
    two hash aggregates with map-side combine; only K×dim integers
    reach the driver per round — Lloyd economics unchanged."""
    from steaminganalysis_spark.functions import to_double_array
    from steaminganalysis_spark.staging import stage

    base = load(spark, sf_dir, "embeddings").select(
        "vec_id", to_double_array("embedding").alias("v")
    )
    q = stage(_kmfx_quantize(base), "kmfx_emb")
    _, asg = _kmfx_train(spark, q)
    return (
        asg.groupBy("k")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_members"),
            F.min("vec_id").cast("long").alias("min_vec_id"),
            F.sum("vec_id").cast("long").alias("sum_vec_id"),
        )
        .select(F.col("k").cast("int").alias("k"), "n_members", "min_vec_id", "sum_vec_id")
        .orderBy("k")
    )


# ---------- fixed-point portable ANN quartet (r15, VERDICT r14 order #3)
#
# The float quartet (q_sim_ann_ivf/pq/ivfpq/lsh) is rows-only: Lloyd
# float centroids and engine-internal hashes make the outputs
# engine-specific, so their evidence is recall-floor pins. These four
# twins re-express the SAME index structures in pure int64 arithmetic
# — FLOOR(x·2^12) quantization, integer squared-L2 distances, the
# lowbias32 mixer for hyperplanes, floor-mean Lloyd — so BOTH engines
# compute identical routings, codes, shortlists, and final top-k, and
# the driver hash-checks the declared 100 TB ANN scale path
# end-to-end. Distances are L2 over the quantized vectors (integer,
# exact); the float keys keep the cosine spelling. Meaningfulness is
# pinned separately: each portable variant's top-k must overlap the
# exact integer-L2 brute force above a recall floor.

ANNP_QN = 16  # query vectors (vec_id < ANNP_QN)
ANNP_PROBES = 2  # coarse lists probed per query
ANNP_TOPK = 5
PQFX_M = 4  # subspaces
PQFX_SUB = 16  # dims per subspace (4 × 16 = 64)
PQFX_K = 8  # codewords per subspace
PQFX_ITERS = 2  # per-subspace Lloyd rounds
PQFX_SHORTLIST = 20  # ADC shortlist re-ranked exactly
LSHP_J = 16  # hyperplane bits (4 bands × 4 bits)

_FX_E_CTE = f"""e AS MATERIALIZED (
      SELECT vec_id, t.d,
             CAST(FLOOR(CAST(embedding[t.d + 1] AS DOUBLE) * {KMFX_Q}) AS BIGINT) AS q
      FROM embeddings, range(64) t(d)
    )"""


def _fx_exact_tail() -> str:
    """Shared oracle tail: exact integer-L2 re-rank of a ``cand``
    CTE (query_id, neighbor_id) against the quantized relation ``e``,
    top-ANNP_TOPK per query, ties to the lowest neighbor_id."""
    return f""",
    pd2 AS MATERIALIZED (
      SELECT c.query_id, c.neighbor_id,
             CAST(SUM((ea.q - eb.q) * (ea.q - eb.q)) AS BIGINT) AS d2
      FROM cand c
      JOIN e ea ON ea.vec_id = c.query_id
      JOIN e eb ON eb.vec_id = c.neighbor_id AND eb.d = ea.d
      GROUP BY 1, 2
    )
    SELECT CAST(query_id AS BIGINT) AS query_id,
           CAST(neighbor_id AS BIGINT) AS neighbor_id,
           CAST(d2 AS BIGINT) AS d2,
           CAST(rn AS INT) AS rn
    FROM (
      SELECT query_id, neighbor_id, d2,
             ROW_NUMBER() OVER (
               PARTITION BY query_id ORDER BY d2, neighbor_id) AS rn
      FROM pd2
    ) WHERE rn <= {ANNP_TOPK}
    ORDER BY query_id, rn"""


def _annp_ivf_route_ctes() -> str:
    """Coarse fixed-point IVF plumbing shared by the portable IVF and
    IVFPQ oracles: full-corpus assignment against the frozen cent{N}
    (fasg) and per-query ANNP_PROBES-nearest-list routing (route)."""
    n = KMFX_ITERS
    return f""",
    fdist AS MATERIALIZED (
      SELECT e.vec_id, c.k,
             CAST(SUM((e.q - c.m) * (e.q - c.m)) AS BIGINT) AS d2
      FROM e JOIN cent{n} c ON e.d = c.d GROUP BY 1, 2
    ),
    fasg AS MATERIALIZED (
      SELECT vec_id, k FROM (
        SELECT vec_id, k,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, k) AS rn
        FROM fdist
      ) WHERE rn = 1
    ),
    route AS MATERIALIZED (
      SELECT vec_id AS query_id, k FROM (
        SELECT vec_id, k,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, k) AS rn
        FROM fdist WHERE vec_id < {ANNP_QN}
      ) WHERE rn <= {ANNP_PROBES}
    )"""


def _annp_ivf_oracle() -> str:
    return (
        "WITH "
        + ",\n".join(_kmfx_ctes())
        + _annp_ivf_route_ctes()
        + """,
    cand AS MATERIALIZED (
      SELECT r.query_id, a.vec_id AS neighbor_id
      FROM route r JOIN fasg a ON a.k = r.k AND a.vec_id <> r.query_id
    )"""
        + _fx_exact_tail()
    )


def _pqfx_ctes() -> list[str]:
    """Per-subspace fixed-point Lloyd, the whole codebook trained in
    ONE CTE chain by adding the subspace id ``m`` to every group key:
    es splits the quantized relation into PQFX_M 16-dim subvectors,
    seeds are the PQFX_K lowest vec_ids' subvectors, each round
    assigns per (vec_id, m) by integer squared distance (ties to the
    lowest codeword) and floor-mean-updates per (m, k, d); pcode is
    the final assignment against the frozen pcent{N}."""
    cte = [
        f"""pes AS MATERIALIZED (
      SELECT vec_id, d // {PQFX_SUB} AS m, d, q FROM e
    )""",
        f"""pseed AS MATERIALIZED (
      SELECT vec_id, DENSE_RANK() OVER (ORDER BY vec_id) - 1 AS k
      FROM (SELECT DISTINCT vec_id FROM embeddings
            ORDER BY vec_id LIMIT {PQFX_K})
    )""",
        """pcent0 AS MATERIALIZED (
      SELECT s.k, t.m, t.d, t.q AS c FROM pes t JOIN pseed s USING (vec_id)
    )""",
    ]
    for t in range(PQFX_ITERS):
        cte.append(
            f"""pdist{t} AS MATERIALIZED (
      SELECT t.vec_id, c.m, c.k,
             CAST(SUM((t.q - c.c) * (t.q - c.c)) AS BIGINT) AS d2
      FROM pes t JOIN pcent{t} c ON c.m = t.m AND c.d = t.d
      GROUP BY 1, 2, 3
    )"""
        )
        cte.append(
            f"""pasg{t} AS MATERIALIZED (
      SELECT vec_id, m, k FROM (
        SELECT vec_id, m, k,
               ROW_NUMBER() OVER (
                 PARTITION BY vec_id, m ORDER BY d2, k) AS rn
        FROM pdist{t}
      ) WHERE rn = 1
    )"""
        )
        cte.append(
            f"""pcent{t + 1} AS MATERIALIZED (
      SELECT c.m, c.k, c.d,
             COALESCE(
               CAST(CASE WHEN u.s >= 0 THEN u.s // u.n
                         ELSE -((-u.s + u.n - 1) // u.n) END AS BIGINT),
               c.c) AS c
      FROM pcent{t} c
      LEFT JOIN (
        SELECT a.m, a.k, t.d, SUM(t.q) AS s, COUNT(*) AS n
        FROM pes t JOIN pasg{t} a ON a.vec_id = t.vec_id AND a.m = t.m
        GROUP BY 1, 2, 3
      ) u ON u.m = c.m AND u.k = c.k AND u.d = c.d
    )"""
        )
    n = PQFX_ITERS
    cte.append(
        f"""pcode AS MATERIALIZED (
      SELECT vec_id, m, k FROM (
        SELECT t.vec_id, c.m, c.k,
               ROW_NUMBER() OVER (
                 PARTITION BY t.vec_id, c.m
                 ORDER BY SUM((t.q - c.c) * (t.q - c.c)), c.k) AS rn
        FROM pes t JOIN pcent{n} c ON c.m = t.m AND c.d = t.d
        GROUP BY t.vec_id, c.m, c.k
      ) WHERE rn = 1
    )"""
    )
    cte.append(
        f"""qd AS MATERIALIZED (
      SELECT t.vec_id AS query_id, c.m, c.k,
             CAST(SUM((t.q - c.c) * (t.q - c.c)) AS BIGINT) AS d2q
      FROM pes t JOIN pcent{n} c ON c.m = t.m AND c.d = t.d
      WHERE t.vec_id < {ANNP_QN}
      GROUP BY 1, 2, 3
    )"""
    )
    return cte


def _annp_pq_oracle() -> str:
    return (
        "WITH "
        + ",\n".join([_FX_E_CTE] + _pqfx_ctes())
        + f""",
    adc AS MATERIALIZED (
      SELECT q.query_id, n.vec_id AS neighbor_id, SUM(q.d2q) AS adc
      FROM pcode n JOIN qd q ON q.m = n.m AND q.k = n.k
      WHERE n.vec_id <> q.query_id
      GROUP BY 1, 2
    ),
    cand AS MATERIALIZED (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (
                 PARTITION BY query_id ORDER BY adc, neighbor_id) AS srn
        FROM adc
      ) WHERE srn <= {PQFX_SHORTLIST}
    )"""
        + _fx_exact_tail()
    )


def _annp_ivfpq_oracle() -> str:
    return (
        "WITH "
        + ",\n".join(_kmfx_ctes() + _pqfx_ctes())
        + _annp_ivf_route_ctes()
        + f""",
    cand0 AS MATERIALIZED (
      SELECT r.query_id, a.vec_id AS neighbor_id
      FROM route r JOIN fasg a ON a.k = r.k AND a.vec_id <> r.query_id
    ),
    adc AS MATERIALIZED (
      SELECT c0.query_id, c0.neighbor_id, SUM(q.d2q) AS adc
      FROM cand0 c0
      JOIN pcode n ON n.vec_id = c0.neighbor_id
      JOIN qd q ON q.query_id = c0.query_id AND q.m = n.m AND q.k = n.k
      GROUP BY 1, 2
    ),
    cand AS MATERIALIZED (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (
                 PARTITION BY query_id ORDER BY adc, neighbor_id) AS srn
        FROM adc
      ) WHERE srn <= {PQFX_SHORTLIST}
    )"""
        + _fx_exact_tail()
    )


def _lshp_h_sql(xor: str, div: str) -> str:
    """Hyperplane sign h(j, d) ∈ {+1, −1}: parity of the lowbias32
    mixer over the (j, d) cell index — engine-portable, deterministic,
    and empirically balanced (the mixer's avalanche property)."""
    from steaminganalysis_spark.operators.aggregates import _hllp_hash_sql

    return (
        f"CASE WHEN ({_hllp_hash_sql(xor, div, 'j * 64 + d + 1')}) % 2 = 1 "
        "THEN 1 ELSE -1 END"
    )


def _annp_lsh_oracle() -> str:
    h = _lshp_h_sql("xor({a}, {b})", "//")
    return (
        f"""WITH {_FX_E_CTE},
    hp AS MATERIALIZED (
      SELECT j.j, d.d, {h} AS h
      FROM range({LSHP_J}) j(j), range(64) d(d)
    ),
    sig AS MATERIALIZED (
      SELECT e.vec_id, hp.j,
             CASE WHEN SUM(hp.h * e.q) >= 0 THEN 1 ELSE 0 END AS s
      FROM e JOIN hp ON hp.d = e.d GROUP BY 1, 2
    ),
    band AS MATERIALIZED (
      SELECT vec_id, j // 4 AS band,
             SUM(s * (CASE (j % 4) WHEN 0 THEN 1 WHEN 1 THEN 2
                                   WHEN 2 THEN 4 ELSE 8 END)) AS bv
      FROM sig GROUP BY 1, 2
    ),
    cand AS MATERIALIZED (
      SELECT DISTINCT a.vec_id AS query_id, b.vec_id AS neighbor_id
      FROM band a
      JOIN band b ON b.band = a.band AND b.bv = a.bv
                 AND b.vec_id <> a.vec_id
      WHERE a.vec_id < {ANNP_QN}
    )"""
        + _fx_exact_tail()
    )


def _fx_pair_d2(cand: DataFrame, q: DataFrame) -> DataFrame:
    """Exact integer squared-L2 over candidate pairs: the corpus-side
    exploded relation streams through ONE equi-join against the
    BROADCAST candidate list and ONE against the BROADCAST query
    vectors (ANNP_QN × 64 rows) — data rows never shuffle before the
    final pair-grain hash aggregate."""
    qa = q.filter(F.col("vec_id") < ANNP_QN).select(
        F.col("vec_id").alias("query_id"), "d", F.col("q").alias("qa")
    )
    qb = q.select(
        F.col("vec_id").alias("neighbor_id"), "d", F.col("q").alias("qb")
    )
    return (
        qb.join(F.broadcast(cand.select("query_id", "neighbor_id")), "neighbor_id")
        .join(F.broadcast(qa), ["query_id", "d"])
        .groupBy("query_id", "neighbor_id")
        .agg(
            F.sum(
                (F.col("qa") - F.col("qb")) * (F.col("qa") - F.col("qb"))
            ).alias("d2")
        )
    )


def _fx_rank_topk(scored: DataFrame) -> DataFrame:
    w = W.partitionBy("query_id").orderBy("d2", "neighbor_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= ANNP_TOPK)
        .select(
            F.col("query_id").cast("long").alias("query_id"),
            F.col("neighbor_id").cast("long").alias("neighbor_id"),
            F.col("d2").cast("long").alias("d2"),
            F.col("rn").cast("int").alias("rn"),
        )
        .orderBy("query_id", "rn")
    )


def _fx_quantized(spark: SparkSession, sf_dir: str, tag: str) -> DataFrame:
    from steaminganalysis_spark.functions import to_double_array
    from steaminganalysis_spark.staging import stage

    base = load(spark, sf_dir, "embeddings").select(
        "vec_id", to_double_array("embedding").alias("v")
    )
    return stage(_kmfx_quantize(base), tag)


@query("q_sim_ann_ivf_portable", oracle=_annp_ivf_oracle())
def sim_ann_ivf_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLE-EXACT IVF ANN (VERDICT r14 order #3) — the hash-checked
    twin of rows-only q_sim_ann_ivf: the coarse quantizer is the
    fixed-point Lloyd kernel (q_cluster_kmeans_portable's, frozen
    after KMFX_ITERS rounds), queries route to their ANNP_PROBES
    nearest lists by integer squared distance, and candidates within
    probed lists re-rank by EXACT integer L2 (ties to the lowest
    neighbor_id) — every step int64, so both engines emit the
    identical top-5. Recall vs exact integer-L2 brute force is pinned
    in tests (exactness is not bought with meaninglessness).

    Scale shape unchanged from the float IVF: the corpus never leaves
    the cluster (assignment is a broadcast-centroid argmin folded into
    a hash aggregate), probing scans ≈ P/K of it, and the re-rank
    joins stream the corpus relation against two broadcast sides."""
    q = _fx_quantized(spark, sf_dir, "annp_ivf_emb")
    cent, _ = _kmfx_train(spark, q)
    cdf = _kmfx_centdf(spark, cent, 64)
    fasg = _kmfx_argmin(q, cdf)
    qdist = (
        q.filter(F.col("vec_id") < ANNP_QN)
        .join(cdf, "d")
        .groupBy("vec_id", "k")
        .agg(
            F.sum((F.col("q") - F.col("m")) * (F.col("q") - F.col("m"))).alias(
                "d2"
            )
        )
    )
    w = W.partitionBy("vec_id").orderBy("d2", "k")
    route = (
        qdist.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= ANNP_PROBES)
        .select(F.col("vec_id").alias("query_id"), "k")
    )
    cand = (
        fasg.select(F.col("vec_id").alias("neighbor_id"), "k")
        .join(F.broadcast(route), "k")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id")
    )
    return _fx_rank_topk(_fx_pair_d2(cand, q))


@query("q_sim_ann_lsh_portable", oracle=_annp_lsh_oracle())
def sim_ann_lsh_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLE-EXACT hyperplane-LSH ANN — the hash-checked twin of
    rows-only q_sim_ann_lsh: LSHP_J hyperplanes whose ±1 weights are
    the PARITY of the lowbias32 mixer over the (j, d) cell (shared
    literal SQL, so both engines build the identical planes),
    signature bit j = sign of the integer dot product Σ h(j,d)·q(d),
    candidates from 4-band × 4-bit bucket equi-joins (never
    all-pairs), exact integer-L2 re-rank to top-5. All integer, both
    engines byte-identical; recall floor pinned in tests.

    Scale: signatures leave the scan as LSHP_J bits per vector;
    the band join shuffles (band, value) cells only."""
    q = _fx_quantized(spark, sf_dir, "annp_lsh_emb")
    hp = (
        spark.range(LSHP_J)
        .select(F.col("id").alias("j"))
        .crossJoin(spark.range(64).select(F.col("id").alias("d")))
        .withColumn("h", F.expr(_lshp_h_sql("({a} ^ {b})", "DIV")))
    )
    sig = (
        q.join(F.broadcast(hp), "d")
        .groupBy("vec_id", "j")
        .agg(
            F.when(F.sum(F.col("h") * F.col("q")) >= 0, F.lit(1))
            .otherwise(F.lit(0))
            .alias("s")
        )
    )
    band = sig.groupBy(
        "vec_id", F.expr("j DIV 4").alias("band")
    ).agg(
        F.sum(
            F.col("s")
            * F.expr(
                "CASE (j % 4) WHEN 0 THEN 1 WHEN 1 THEN 2 "
                "WHEN 2 THEN 4 ELSE 8 END"
            )
        ).alias("bv")
    ).localCheckpoint()
    cand = (
        band.select(F.col("vec_id").alias("neighbor_id"), "band", "bv")
        .join(
            F.broadcast(
                band.filter(F.col("vec_id") < ANNP_QN).select(
                    F.col("vec_id").alias("query_id"), "band", "bv"
                )
            ),
            ["band", "bv"],
        )
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    return _fx_rank_topk(_fx_pair_d2(cand, q))


def _pqfx_es(q: DataFrame) -> DataFrame:
    return q.select(
        "vec_id", F.expr(f"CAST(d DIV {PQFX_SUB} AS INT)").alias("m"), "d", "q"
    )


def _pqfx_centdf(spark: SparkSession, cent: dict) -> DataFrame:
    return F.broadcast(
        spark.createDataFrame(
            [
                (m, k, d, cent[(m, k, d)])
                for m in range(PQFX_M)
                for k in range(PQFX_K)
                for d in range(m * PQFX_SUB, (m + 1) * PQFX_SUB)
            ],
            "m int, k int, d int, c long",
        )
    )


def _pqfx_assign(es: DataFrame, cdf: DataFrame) -> DataFrame:
    """Per-subspace nearest codeword: (vec_id, m, k), ties to the
    lowest k — min(struct) folded into hash aggregates (map-side
    combine, no per-vector window shuffle)."""
    return (
        es.join(cdf, ["m", "d"])
        .groupBy("vec_id", "m", "k")
        .agg(
            F.sum((F.col("q") - F.col("c")) * (F.col("q") - F.col("c"))).alias(
                "d2"
            )
        )
        .groupBy("vec_id", "m")
        .agg(F.min(F.struct("d2", "k"))["k"].alias("k"))
    )


def _pqfx_train(spark: SparkSession, es: DataFrame) -> dict:
    """Per-subspace fixed-point Lloyd: all PQFX_M codebooks trained in
    the same DataFrame jobs by carrying the subspace id in the group
    keys; returns the frozen {(m, k, d): c} dict after PQFX_ITERS
    floor-mean updates (empty codewords keep their centroid). Only
    M×K×SUB integers reach the driver per round."""
    seed_ids = [
        r.vec_id
        for r in es.select("vec_id").distinct().orderBy("vec_id").limit(
            PQFX_K
        ).collect()
    ]
    rank = {vid: i for i, vid in enumerate(seed_ids)}
    cent = {
        (r["m"], rank[r["vec_id"]], r["d"]): int(r["q"])
        for r in es.filter(F.col("vec_id").isin(seed_ids)).collect()
    }
    for _ in range(PQFX_ITERS):
        cdf = _pqfx_centdf(spark, cent)
        asg = _pqfx_assign(es, cdf).localCheckpoint()
        upd = {
            (r["m"], r["k"], r["d"]): (int(r["s"]), int(r["n"]))
            for r in es.join(asg, ["vec_id", "m"])
            .groupBy("m", "k", "d")
            .agg(F.sum("q").alias("s"), F.count(F.lit(1)).alias("n"))
            .collect()
        }
        cent = {
            (m, k, d): (
                upd[(m, k, d)][0] // upd[(m, k, d)][1]
                if (m, k, d) in upd
                else cent[(m, k, d)]
            )
            for m in range(PQFX_M)
            for k in range(PQFX_K)
            for d in range(m * PQFX_SUB, (m + 1) * PQFX_SUB)
        }
    return cent


def _pqfx_qd(es: DataFrame, cdf: DataFrame) -> DataFrame:
    """Query-to-codeword distance table: (query_id, m, k, d2q) — the
    ADC lookup table, ANNP_QN × M × K rows (broadcast-sized)."""
    return (
        es.filter(F.col("vec_id") < ANNP_QN)
        .join(cdf, ["m", "d"])
        .groupBy(F.col("vec_id").alias("query_id"), "m", "k")
        .agg(
            F.sum((F.col("q") - F.col("c")) * (F.col("q") - F.col("c"))).alias(
                "d2q"
            )
        )
    )


@query("q_sim_ann_pq_portable", oracle=_annp_pq_oracle())
def sim_ann_pq_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLE-EXACT product-quantization ANN — the hash-checked twin
    of rows-only q_sim_ann_pq: PQFX_M per-subspace codebooks trained
    by the fixed-point Lloyd kernel IN ONE CTE/DataFrame chain (the
    subspace id rides the group keys — same rounds, wider keys, no
    per-subspace loop), corpus vectors encode as M integer codes,
    queries scan the asymmetric-distance (ADC) table Σ_m d2(query_m,
    codeword) — all int64 — shortlist PQFX_SHORTLIST by (adc, id),
    and the shortlist re-ranks by exact integer L2. Both engines emit
    identical codes, shortlists, and top-5; recall floor pinned.

    Scale shape unchanged from float PQ: codes are M small ints per
    vector (the 64-dim corpus never re-materializes for scoring),
    the ADC table is ANNP_QN × M × K rows and broadcasts."""
    q = _fx_quantized(spark, sf_dir, "annp_pq_emb")
    es = _pqfx_es(q)
    cent = _pqfx_train(spark, es)
    cdf = _pqfx_centdf(spark, cent)
    code = _pqfx_assign(es, cdf)
    qd = _pqfx_qd(es, cdf)
    adc = (
        code.select(F.col("vec_id").alias("neighbor_id"), "m", "k")
        .join(F.broadcast(qd), ["m", "k"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("d2q").alias("adc"))
    )
    w = W.partitionBy("query_id").orderBy("adc", "neighbor_id")
    cand = (
        adc.withColumn("srn", F.row_number().over(w))
        .filter(F.col("srn") <= PQFX_SHORTLIST)
        .select("query_id", "neighbor_id")
    )
    return _fx_rank_topk(_fx_pair_d2(cand, q))


@query("q_sim_ann_ivfpq_portable", oracle=_annp_ivfpq_oracle())
def sim_ann_ivfpq_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLE-EXACT IVF+PQ ANN — the hash-checked twin of rows-only
    q_sim_ann_ivfpq, composing the two portable stages: coarse
    fixed-point IVF routing restricts each query to ANNP_PROBES
    lists, PQ ADC (integer, per-subspace codes over the RAW quantized
    vectors — the non-residual IVFADC variant; classic residual
    encoding is a float-recall refinement the float key keeps) ranks
    the routed candidates, the top PQFX_SHORTLIST re-rank by exact
    integer L2. Identical routings, codes, shortlists, and top-5 on
    both engines; recall floor pinned in tests.

    Scale: the scanned fraction is ≈ P/K of the corpus and scoring
    within it touches M-int codes, not vectors — the inverted-list ×
    code-compression multiplication that makes billion-scale ANN
    serveable."""
    q = _fx_quantized(spark, sf_dir, "annp_ivfpq_emb")
    cent, _ = _kmfx_train(spark, q)
    cdf = _kmfx_centdf(spark, cent, 64)
    fasg = _kmfx_argmin(q, cdf)
    qdist = (
        q.filter(F.col("vec_id") < ANNP_QN)
        .join(cdf, "d")
        .groupBy("vec_id", "k")
        .agg(
            F.sum((F.col("q") - F.col("m")) * (F.col("q") - F.col("m"))).alias(
                "d2"
            )
        )
    )
    w = W.partitionBy("vec_id").orderBy("d2", "k")
    route = (
        qdist.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= ANNP_PROBES)
        .select(F.col("vec_id").alias("query_id"), "k")
    )
    cand0 = (
        fasg.select(F.col("vec_id").alias("neighbor_id"), "k")
        .join(F.broadcast(route), "k")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id")
    )
    es = _pqfx_es(q)
    pcent = _pqfx_train(spark, es)
    pcdf = _pqfx_centdf(spark, pcent)
    code = _pqfx_assign(es, pcdf)
    qd = _pqfx_qd(es, pcdf)
    adc = (
        cand0.join(
            code.select(F.col("vec_id").alias("neighbor_id"), "m", "k"),
            "neighbor_id",
        )
        .join(F.broadcast(qd), ["query_id", "m", "k"])
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("d2q").alias("adc"))
    )
    ws = W.partitionBy("query_id").orderBy("adc", "neighbor_id")
    cand = (
        adc.withColumn("srn", F.row_number().over(ws))
        .filter(F.col("srn") <= PQFX_SHORTLIST)
        .select("query_id", "neighbor_id")
    )
    return _fx_rank_topk(_fx_pair_d2(cand, q))
