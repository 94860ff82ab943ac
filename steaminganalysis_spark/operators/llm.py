"""LLM-data-pipeline operators (SURVEY.md §2 B.9; BASELINE.json
north star): deduplication (exact / n-gram Jaccard / MinHash-LSH /
SimHash), similarity search over embeddings, and text analysis
(token stats, language ID, quality scoring, fingerprinting).

Scale design notes:
- Exact dedup is a hash-groupBy (one shuffle on the text hash — never
  on the text itself, so wide rows don't inflate the exchange).
- N-gram Jaccard dedup joins on shingles: candidate generation only
  materializes pairs that share ≥1 shingle; at 100 TB you run the
  MinHash-LSH variant (`q_dedup_near`) whose candidate set is bounded
  by LSH bands, then verify candidates exactly — that is the classic
  shingle→minhash→band→bucket-join pipeline, here pure DataFrame ops.
- Similarity search: brute-force cosine keeps the small query set
  broadcast so the big side streams map-side only (no shuffle); the
  LSH-bucketed variant (`q_sim_ann_lsh`) prunes candidates by
  random-hyperplane buckets.
- All floating-point pipelines cast float→double BEFORE any arithmetic
  and mirror the oracle's association order exactly.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from steaminganalysis_spark.functions import (
    cap_document_frequency,
    shingle_hashes,
    dot,
    minhash_band_signatures,
    norm,
    to_double_array,
    tokens,
)
from steaminganalysis_spark.registry import QUERIES, query
from steaminganalysis_spark.sources import load
from steaminganalysis_spark.staging import stage

# ---------------------------------------------------------------- dedup

@query(
    "q_dedup_exact",
    oracle="""
    SELECT md5(text) AS text_hash,
           MIN(doc_id) AS keep_doc_id,
           COUNT(*) AS n_copies
    FROM documents
    GROUP BY md5(text)
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: group by content hash, keep the smallest doc_id.
    The shuffle key is the 32-byte md5, not the document body."""
    d = load(spark, sf_dir, "documents")
    return d.groupBy(F.md5("text").alias("text_hash")).agg(
        F.min("doc_id").alias("keep_doc_id"), F.count("*").alias("n_copies")
    )


_SHINGLE_DF_CAP = 1000  # max docs a shingle may appear in before it is
# dropped as corpus boilerplate (skew guard — SCALE.md "shingle DF cap")


def _shingle_hashes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (doc_id, xxhash64(shingle)) — the scale representation:
    the self-join and all shuffles move 8-byte keys instead of ~30-byte
    strings (64-bit collisions are negligible at any realistic corpus:
    P ≈ n²/2^65 per doc pair). Delegates to the shared kernel, which
    hashes BEFORE the distinct so the dedup shuffle itself runs on
    8-byte keys (one exchange total, vs distinct-on-strings +
    re-distinct-on-hashes).

    Shingles in >_SHINGLE_DF_CAP docs are dropped before any self-join
    (``cap_document_frequency``): one such shingle shared by k docs is
    k² join rows in a single bucket — the job-killing skew mode of
    exact near-dedup at corpus scale. The cap changes nothing at the
    fixture SFs (measured max DF: 9/7/25 at sf0.001/0.01/0.1, far
    under the cap), so every oracle stays exact; at 100 TB it bounds
    the worst bucket to cap² pairs. The shingle table is staged before
    the DF aggregate so the generate+distinct runs once, and both the
    aggregate and the anti-join key on ``h`` — the partitioning the
    downstream self-join reuses."""
    sh = stage(shingle_hashes(load(spark, sf_dir, "documents")), "shingles", bucket_col="h")
    return cap_document_frequency(sh, df_cap=_SHINGLE_DF_CAP)


@query(
    "q_dedup_ngram_jaccard",
    oracle="""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    sh AS (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
           FROM toks, unnest(generate_series(1, len(t) - 2)) AS r(i)),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
              FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
              GROUP BY 1, 2)
    SELECT doc_a, doc_b,
           FLOOR(CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) * 1000000.0 + 0.5) / 1000000.0 AS jaccard
    FROM inter
    JOIN sizes sa ON doc_a = sa.doc_id
    JOIN sizes sb ON doc_b = sb.doc_id
    WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= 0.8
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard near-dedup: candidate pairs share ≥1
    shingle; jaccard = |∩| / (|A|+|B|-|∩|) ≥ 0.8. The ratio is an exact
    integer division done identically on both sides. The self-join runs
    on 64-bit shingle hashes (8-byte shuffle keys, long comparisons)
    rather than shingle strings — the plan that holds at corpus scale."""
    sh = _shingle_hashes(spark, sf_dir)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    # carry |set| alongside each shingle row (broadcast: sizes is one
    # slim row per doc) so the pair aggregate needs no post-joins —
    # one shuffle on h, one on the pair key, nothing after.
    # STAGE the annotated shingle table: without it Catalyst plans the
    # shingle generate+distinct FOUR times (a/b sides × rows/sizes —
    # exchange reuse does not canonicalize across the aliased
    # branches). ~13% faster even at sf0.1, identical output. The
    # staging primitive is mode-switched (staging.stage): in-process
    # localCheckpoint here, a durable h-bucketed table on a cluster.
    shn = stage(sh.join(F.broadcast(sizes), "doc_id"), "jaccard_annotated", bucket_col="h")
    a = shn.alias("a")
    b = shn.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            # length filter (prefix-filtering family): J(A,B) ≥ 0.8
            # requires 0.8·|B| ≤ |A| ≤ |B|/0.8 — prunes impossible
            # pairs before the pair-aggregate shuffle
            & (F.col("a.n") * F.lit(0.8) <= F.col("b.n"))
            & (F.col("b.n") * F.lit(0.8) <= F.col("a.n")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.n").alias("na"),
            F.col("b.n").alias("nb"),
        )
        .agg(F.count("*").alias("n_common"))
    )
    jac = F.col("n_common").cast("double") / (
        F.col("na") + F.col("nb") - F.col("n_common")
    )
    # floor-based rounding: the jaccard is an exact integer ratio, the
    # value class that terminates one digit past scale 6 and splits
    # Spark's string-round from DuckDB's binary-round (see
    # registry.round_half_up)
    from steaminganalysis_spark.registry import round_half_up

    return inter.filter(jac >= 0.8).select(
        "doc_a", "doc_b", round_half_up(jac, 6).alias("jaccard")
    )


N_MINHASH = 32
N_BANDS = 8  # 8 bands × 4 rows: P(candidate | j=0.8) ≈ 1-(1-0.8^4)^8 ≈ 0.986/pair-band → ~1.0 overall


CHUNK_LEN = 120  # chars per chunk
CHUNK_STRIDE = 80  # chunk start spacing (overlap = 120 - 80 = 40)


@query(
    "q_text_chunk",
    oracle=f"""
    WITH d AS (SELECT doc_id, text, length(text) AS n FROM documents),
    ks AS (
      SELECT doc_id, text, n,
             unnest(generate_series(0, (n - 1) // {CHUNK_STRIDE})) AS k
      FROM d
    )
    SELECT doc_id,
           CAST(k AS BIGINT) AS chunk_id,
           CAST(k * {CHUNK_STRIDE} + 1 AS BIGINT) AS start_char,
           substr(text, k * {CHUNK_STRIDE} + 1, {CHUNK_LEN}) AS chunk_text,
           CAST(length(substr(text, k * {CHUNK_STRIDE} + 1, {CHUNK_LEN}))
                AS BIGINT) AS chunk_len
    FROM ks
    ORDER BY doc_id, chunk_id
    """,
)
def text_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG chunking — the corpus-to-retrieval-unit stage every
    embedding pipeline runs before vectorizing: each document splits
    into fixed-{C}-char windows every {S} chars ({O}-char overlap so
    no sentence straddles a hard boundary unseen), each chunk carrying
    a STABLE address (doc_id, chunk_id, 1-based start_char) so
    retrieval hits can be mapped back to exact source spans. Chunk
    count per doc = 1 + (len-1) DIV {S} — every character lands in at
    least one chunk (coverage pinned), tail chunks run short rather
    than padding. Deterministic integer arithmetic + substring only,
    so the chunk texts themselves are driver-hash-checked.

    Scale shape: pure map — sequence + explode + substring inside
    whole-stage codegen, zero exchanges (the final ORDER BY is
    presentation); parallelizes exactly as the scan, and column
    pruning keeps only (doc_id, text) flowing. Chunk explosion is the
    one fan-out (≈ len/{S} rows per doc) — the same fan-out the
    embedding stage pays anyway. Reference parity: no corpus surface
    in the reference (SURVEY §2 B.9 extension)."""
    d = load(spark, sf_dir, "documents").select(
        "doc_id", "text", F.length("text").alias("n")
    )
    ks = d.select(
        "doc_id",
        "text",
        F.explode(
            F.sequence(F.lit(0), F.expr(f"(n - 1) DIV {CHUNK_STRIDE}"))
        ).alias("k"),
    )
    chunk = F.expr(f"substring(text, k * {CHUNK_STRIDE} + 1, {CHUNK_LEN})")
    return ks.select(
        "doc_id",
        F.col("k").cast("long").alias("chunk_id"),
        (F.col("k") * CHUNK_STRIDE + 1).cast("long").alias("start_char"),
        chunk.alias("chunk_text"),
        F.length(chunk).cast("long").alias("chunk_len"),
    ).orderBy("doc_id", "chunk_id")


text_chunk.__doc__ = (
    text_chunk.__doc__.replace("{C}", str(CHUNK_LEN))
    .replace("{S}", str(CHUNK_STRIDE))
    .replace("{O}", str(CHUNK_LEN - CHUNK_STRIDE))
)


@query("q_dedup_near")  # rows-only: MinHash is probabilistic; verified vs exact jaccard in tests
def dedup_near_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH near-dedup — the 100 TB scale path.

    shingle → 32 minhashes (xxhash64 with per-permutation seeds) →
    8 bands of 4 → band-bucket equi-join for candidates → exact Jaccard
    verification on candidates only. Unlike `q_dedup_ngram_jaccard`,
    the pair space never materializes beyond LSH collisions.
    """
    # shingle → 32 seeded minhashes → 8 band signatures, via the shared
    # kernel (functions.text.minhash_band_signatures) that the streaming
    # incremental index (streaming.neardup) also uses
    # stage the signature table: the self-join's two aliased branches
    # would otherwise each recompute the whole shingle→minhash→band
    # pipeline (Catalyst does not canonicalize the aliased subtrees
    # for exchange reuse)
    bands = stage(
        minhash_band_signatures(
            load(spark, sf_dir, "documents"),
            n_minhash=N_MINHASH,
            n_bands=N_BANDS,
        ),
        "minhash_bands",
        bucket_col="sig",
    )
    cand = (
        bands.alias("x")
        .join(
            bands.alias("y"),
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.sig") == F.col("y.sig"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b")
        )
        .distinct()
    )
    # exact verification on the (small) candidate set; the staged
    # shingle table serves the a-side, b-side AND the size aggregate
    # (3 uses, 1 computation)
    sh2 = stage(_shingle_hashes(spark, sf_dir), "verify_shingles", bucket_col="doc_id")
    sizes = sh2.groupBy("doc_id").agg(F.count("*").alias("n"))
    a = sh2.alias("a")
    b = sh2.alias("b")
    inter = (
        cand.join(a, F.col("doc_a") == F.col("a.doc_id"))
        .join(
            b,
            (F.col("doc_b") == F.col("b.doc_id"))
            & (F.col("a.h") == F.col("b.h")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_common"))
    )
    jac = F.col("n_common").cast("double") / (
        F.col("sa.n") + F.col("sb.n") - F.col("n_common")
    )
    from steaminganalysis_spark.registry import round_half_up

    return (
        inter.join(sizes.alias("sa"), F.col("doc_a") == F.col("sa.doc_id"))
        .join(sizes.alias("sb"), F.col("doc_b") == F.col("sb.doc_id"))
        .filter(jac >= 0.8)
        .select("doc_a", "doc_b", round_half_up(jac, 6).alias("jaccard"))
    )


@query("q_dedup_simhash")  # rows-only: engine-specific 64-bit hashing
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dedup: 32-bit signature from per-token hashes
    (bit j of the signature = sign of Σ_tokens (bit j ? +1 : -1)),
    candidates = signature pairs within Hamming distance ≤ 3.
    All JVM-side bit arithmetic; no UDFs."""
    d = load(spark, sf_dir, "documents").select("doc_id", F.split("text", " ").alias("t"))
    tok = d.select("doc_id", F.explode("t").alias("tok")).withColumn(
        "h", F.xxhash64("tok")
    )
    bit_sums = tok.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"b{i}")
            for i in range(32)
        ]
    )
    sig = bit_sums.select(
        "doc_id",
        sum(
            [
                F.when(F.col(f"b{i}") > 0, F.lit(1 << i)).otherwise(F.lit(0))
                for i in range(32)
            ],
            F.lit(0),
        ).cast("long").alias("sig"),
    )
    # Pigeonhole banding: split the 32-bit signature into 4 byte
    # blocks. Any pair within Hamming distance 3 differs in at most 3
    # blocks, so it shares at least one block EXACTLY — candidates come
    # from a shuffled equi-join on (block_idx, block_value) instead of
    # an O(n²) cross join, then the Hamming predicate verifies exactly.
    # Same output as the all-pairs form (pinned by the recall test);
    # plan shape pinned equi-join by test_plan_audit.
    blocks = sig.select(
        "doc_id",
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("blk"),
                        F.shiftright(F.col("sig"), 8 * i)
                        .bitwiseAND(F.lit(0xFF))
                        .alias("val"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("bv"),
    ).select(
        "doc_id", "sig", F.col("bv.blk").alias("blk"), F.col("bv.val").alias("val")
    )
    # stage: the banded self-join would otherwise recompute the
    # 32-column signature aggregate twice
    blocks = stage(blocks, "simhash_blocks", bucket_col="val")
    cand = (
        blocks.alias("x")
        .join(
            blocks.alias("y"),
            (F.col("x.blk") == F.col("y.blk"))
            & (F.col("x.val") == F.col("y.val"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
            F.col("x.sig").alias("sig_a"),
            F.col("y.sig").alias("sig_b"),
        )
        .distinct()
    )
    ham = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return cand.filter(ham <= 3).select(
        "doc_a", "doc_b", ham.cast("int").alias("hamming")
    )


# ------------------------------------------------- similarity search

def _emb_double(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings")
    v = to_double_array("embedding")
    return e.select("vec_id", v.alias("v"), norm(v).alias("norm"))


_SIM_ORACLE_BASE = """
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ), n AS (
      SELECT vec_id, v,
             sqrt(list_sum(list_transform(generate_series(1, len(v)), i -> v[i] * v[i]))) AS nrm
      FROM e
    ), pairs AS (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
             list_sum(list_transform(generate_series(1, len(a.v)), i -> a.v[i] * b.v[i]))
               / (a.nrm * b.nrm) AS cosine
      FROM n a JOIN n b ON b.vec_id <> a.vec_id
      WHERE a.vec_id < 50
    )
"""


@query(
    "q_sim_topk",
    oracle=_SIM_ORACLE_BASE
    + """
    SELECT query_id, neighbor_id, round(cosine, 6) AS cosine, CAST(rn AS INT) AS rn
    FROM (
      SELECT query_id, neighbor_id, cosine,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY round(cosine, 6) DESC, neighbor_id) AS rn
      FROM pairs
    ) WHERE rn <= 5
    """,
)
def sim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 for the first 50 query vectors.

    The query set is broadcast; the corpus streams through a map-side
    broadcast nested-loop join (no shuffle of the big side), dot product
    via JVM higher-order zip_with/aggregate in double precision; then a
    per-query top-k window. Ranking is on the ROUNDED similarity with a
    neighbor-id tiebreak so float last-ulp differences cannot reorder.
    """
    base = _emb_double(spark, sf_dir)
    q = base.filter(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("norm").alias("qnorm"),
    )
    pairs = base.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
    cos = dot(F.col("qv"), F.col("v")) / (F.col("qnorm") * F.col("norm"))
    scored = pairs.select(
        "query_id", F.col("vec_id").alias("neighbor_id"), cos.alias("cosine")
    )
    w = W.partitionBy("query_id").orderBy(
        F.round(F.col("cosine"), 6).desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("query_id", "neighbor_id", F.round("cosine", 6).alias("cosine"), "rn")
    )


@query(
    "q_sim_topk_filtered",
    oracle="""
    WITH e AS (
      SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ), n AS (
      SELECT vec_id, label, v,
             sqrt(list_sum(list_transform(generate_series(1, len(v)), i -> v[i] * v[i]))) AS nrm
      FROM e
    ), pairs AS (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
             list_sum(list_transform(generate_series(1, len(a.v)), i -> a.v[i] * b.v[i]))
               / (a.nrm * b.nrm) AS cosine
      FROM n a JOIN n b ON b.vec_id <> a.vec_id AND b.label = a.label
      WHERE a.vec_id < 50
    )
    SELECT query_id, neighbor_id, round(cosine, 6) AS cosine, CAST(rn AS INT) AS rn
    FROM (
      SELECT query_id, neighbor_id, cosine,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY round(cosine, 6) DESC, neighbor_id) AS rn
      FROM pairs
    ) WHERE rn <= 5
    """,
)
def sim_topk_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTERED vector search (r14) — top-5 cosine neighbors SHARING
    the query's metadata label, the canonical filtered-ANN shape every
    RAG deployment runs (tenant / language / license filters): the
    predicate is applied as a JOIN CONDITION, i.e. PRE-FILTERING —
    candidates are restricted before ranking, so top-k is exact under
    the filter (post-filtering a fixed-k result famously returns
    <k or misses matches when the filter is selective; the join-
    condition form cannot). Same broadcast query-side plan as
    q_sim_topk: the corpus streams map-side past the 50 broadcast
    queries, the equality condition prunes pairs inside the join, and
    only filtered candidates reach the per-query window.

    100 TB: pre-filtering in the join condition is what composes with
    every physical layout — the label equality becomes a bucket/
    partition co-location key at scale (compose with
    q_table_partition_transforms' hidden bucketing); the top-k stays
    exact regardless of filter selectivity. Reference parity: none
    (engine extension; SURVEY §2 B.9)."""
    base = _emb_double(spark, sf_dir)
    labels = load(spark, sf_dir, "embeddings").select("vec_id", "label")
    corpus = base.join(labels, "vec_id")
    q = corpus.filter(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("norm").alias("qnorm"),
        F.col("label").alias("qlabel"),
    )
    pairs = corpus.join(
        F.broadcast(q),
        (F.col("vec_id") != F.col("query_id"))
        & (F.col("label") == F.col("qlabel")),
    )
    cos = dot(F.col("qv"), F.col("v")) / (F.col("qnorm") * F.col("norm"))
    scored = pairs.select(
        "query_id", F.col("vec_id").alias("neighbor_id"), cos.alias("cosine")
    )
    w = W.partitionBy("query_id").orderBy(
        F.round(F.col("cosine"), 6).desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select(
            "query_id",
            "neighbor_id",
            F.round("cosine", 6).alias("cosine"),
            "rn",
        )
    )


LSH_BITS = 4  # hyperplanes per table
LSH_TABLES = 8  # independent tables (multi-probe recall)


def _lsh_candidate_pairs(
    base: DataFrame, tables: int, bits: int, tag: str = "lsh_buckets"
) -> DataFrame:
    """Random-hyperplane LSH candidate pairs over ``base``
    (vec_id, v, norm): each vector hashes to one bucket per table
    (sign pattern of ``bits`` deterministic ±1 projections); candidates
    are distinct (vec_a < vec_b) pairs sharing any (table, bucket).

    The candidate join is a shuffled equi-join on (table, bucket) —
    the big side never cross-joins, which is what makes this the
    100 TB path. Bucketing is the vectorized blake2b hyperplane
    construction shared with the selective kNN key (``_hyperplanes`` /
    ``_matmul_buckets``): plane p's ±1 signs are the bits of
    blake2b(p) — session-free and reproducible forever — and all
    tables×bits signs per vector come from ONE sign(V @ Hᵀ) BLAS
    matmul per Arrow batch. This replaced the original per-plane
    xxhash64 HOF-lambda projections (round 9): Spark interprets
    transform/aggregate lambdas per element, so the old path cost
    tables×bits×dim interpreted ops per vector; the matmul family
    measured 5.63 s → 4.70 s on the 24-table × 2-bit candidate
    generation at sf0.1 (best-of-3, local[32], ~2M candidates either
    way — at this volume the distinct's exchange dominates and the
    hashing stage itself is what shrank) with identical candidate-set
    semantics (iid ±1 planes, same collision math)."""
    buckets = base.select(
        "vec_id", F.posexplode(_matmul_buckets(tables, bits)("v")).alias("tbl", "bkt")
    )
    # staged: the self-join's aliased branches would otherwise each
    # re-run the bucketing UDF per vector
    buckets = stage(buckets, tag, bucket_col="bkt")
    # DISTINCT over the collision rows, measured against the standard
    # first-collision alternative (keep only the row whose table index
    # is the pair's first agreeing signature slot — a map-side filter
    # with no exchange): at sf0.1 the filter variant ran 3× SLOWER
    # (27 s vs 9.6 s candidates-only) because the zip_with/
    # array_position lambda is interpreted per collision row (12M ×
    # 24-element scans) while the distinct's exchange moves only two
    # longs per row and combines map-side. On a cluster with wider
    # tables the tradeoff can flip; it is a one-line swap, not a
    # redesign.
    return (
        buckets.alias("x")
        .join(
            buckets.alias("y"),
            (F.col("x.tbl") == F.col("y.tbl"))
            & (F.col("x.bkt") == F.col("y.bkt"))
            & (F.col("x.vec_id") < F.col("y.vec_id")),
        )
        .select(F.col("x.vec_id").alias("vec_a"), F.col("y.vec_id").alias("vec_b"))
        .distinct()
    )


def _score_pairs_exact(base: DataFrame, cand: DataFrame, threshold: float) -> DataFrame:
    """Exact cosine re-scoring of candidate (vec_a, vec_b) pairs."""
    a = base.select(
        F.col("vec_id").alias("vec_a"), F.col("v").alias("va"), F.col("norm").alias("na")
    )
    b = base.select(
        F.col("vec_id").alias("vec_b"), F.col("v").alias("vb"), F.col("norm").alias("nb")
    )
    cos = F.round(dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 6)
    return (
        cand.join(a, "vec_a")
        .join(b, "vec_b")
        .select("vec_a", "vec_b", cos.alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


# Threshold-pairs LSH parameters: recall at the registered τ=0.4
# (weak-similarity regime, θ≈1.159 rad, p_bit≈0.631) must be ~1 for
# the exact-SQL oracle to stay green. With 2 bits × 24 tables the
# per-true-pair miss probability is (1-0.631²)^24 ≈ 5e-6; equality
# with the all-pairs exact baseline on the deterministic test data is
# pinned by test_threshold_pairs_lsh_equals_all_pairs.
THRESH_LSH_BITS = 2
THRESH_LSH_TABLES = 24  # miss prob per true pair at τ=0.4: (1-0.631²)^24 ≈ 5e-6
# — headroom so the exact-SQL oracle stays green on any plausible
# fixture scale, not just the pinned sf0.01 corpus


def sim_threshold_pairs_all_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact all-pairs baseline for `q_sim_threshold_pairs` — O(n²)
    cross join, NOT registered and deliberately not part of any scale
    path; exists only as the ground truth the bucketed variant is
    tested against (and for small-n callers who accept the cost)."""
    base = _emb_double(spark, sf_dir)
    a = base.select(
        F.col("vec_id").alias("vec_a"), F.col("v").alias("va"), F.col("norm").alias("na")
    )
    b = base.select(
        F.col("vec_id").alias("vec_b"), F.col("v").alias("vb"), F.col("norm").alias("nb")
    )
    cos = F.round(dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 6)
    return (
        a.join(b, F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b", cos.alias("cosine"))
        .filter(F.col("cosine") >= 0.4)
    )


@query(
    "q_sim_threshold_pairs",
    oracle=_SIM_ORACLE_BASE.replace("WHERE a.vec_id < 50", "WHERE a.vec_id < b.vec_id")
    + """
    SELECT query_id AS vec_a, neighbor_id AS vec_b, round(cosine, 6) AS cosine
    FROM pairs WHERE round(cosine, 6) >= 0.4
    """,
)
def sim_threshold_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (cosine ≥ 0.4, a < b).

    Candidates come from 24-table × 2-bit hyperplane LSH buckets
    (equi-join on (table, bucket), never an all-pairs cross join), then
    every candidate is re-scored with the exact cosine. Per-true-pair
    miss probability vs the exact all-pairs baseline is ~5e-6 at τ=0.4;
    exact equality on the test data is pinned in tests, and the
    registered oracle stays the exact all-pairs SQL."""
    base = _emb_double(spark, sf_dir)
    cand = _lsh_candidate_pairs(base, THRESH_LSH_TABLES, THRESH_LSH_BITS)
    return _score_pairs_exact(base, cand, 0.4)


@query(
    "q_dedup_semantic",
    oracle=_SIM_ORACLE_BASE.replace("WHERE a.vec_id < 50", "WHERE a.vec_id < b.vec_id")
    + """
    SELECT e.vec_id, e.label FROM embeddings e
    WHERE NOT EXISTS (
      SELECT 1 FROM pairs p
      WHERE p.neighbor_id = e.vec_id AND round(p.cosine, 6) >= 0.4
    )
    """,
)
def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic (embedding-space) deduplication — the SemDeDup-class
    keep/drop decision over the embedding table: a vector is DROPPED
    iff some lower-id vector lies within cosine ≥ 0.4 of it (the
    deterministic keep-lowest-id canonical rule; production pipelines
    use the same rule with the crawl-order id). This turns
    ``q_sim_threshold_pairs``'s pair LIST into the actual curation
    output: the kept corpus.

    Scale shape: candidates come from the same 24-table × 2-bit
    hyperplane LSH bucket equi-join (never all-pairs), exact cosine
    re-scores candidates only, and the keep decision is one anti-join
    of the corpus against the distinct higher-id side of the
    over-threshold pairs — O(pairs) extra work on top of the bucketed
    pair generation. The registered oracle stays the exact all-pairs
    SQL (per-true-pair LSH miss probability ~5e-6 at τ=0.4, see
    THRESH_LSH_* above)."""
    base = _emb_double(spark, sf_dir)
    cand = _lsh_candidate_pairs(base, THRESH_LSH_TABLES, THRESH_LSH_BITS)
    dropped = (
        _score_pairs_exact(base, cand, 0.4)
        .select(F.col("vec_b").alias("vec_id"))
        .distinct()
    )
    e = load(spark, sf_dir, "embeddings")
    return e.join(dropped, "vec_id", "left_anti").select("vec_id", "label")


@query("q_sim_ann_lsh")  # rows-only: ANN recall is probabilistic by design
def sim_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate NN via multi-table random-hyperplane LSH:
    8 tables × 4 signed projections → bucket ids; candidates = pairs
    sharing any (table, bucket); exact cosine re-scored on candidates.
    Hyperplanes are a deterministic ±1 pseudo-random matrix derived
    from xxhash64, so results are reproducible.

    At the test threshold (cosine ≈ 0.4, a weak-similarity regime)
    P(candidate) ≈ 1-(1-(1-θ/π)^4)^8 ≈ 0.75 per true pair; at real
    dedup thresholds (cosine ≥ 0.8) it exceeds 0.999. At scale the
    (table, bucket) equi-join replaces the all-pairs cross join."""
    base = _emb_double(spark, sf_dir)
    cand = _lsh_candidate_pairs(base, LSH_TABLES, LSH_BITS)
    return _score_pairs_exact(base, cand, 0.4)


# ----------------------------------------------------- text analysis

_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "on", "for", "with")
_FR_WORDS = ("le", "la", "et", "les", "des", "un", "une", "du")
_DE_WORDS = ("der", "die", "das", "und", "ein", "nicht", "mit", "ist")


def _sql_list(words: tuple[str, ...]) -> str:
    return "[" + ", ".join(f"'{w}'" for w in words) + "]"


@query(
    "q_text_stats",
    oracle="""
    SELECT lang, source,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
           CAST(SUM(n_chars) AS BIGINT) / CAST(COUNT(*) AS DOUBLE) AS avg_chars
    FROM documents
    GROUP BY lang, source
    """,
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(lang, source) corpus statistics: docs, chars, whitespace
    tokens, exact average chars."""
    d = load(spark, sf_dir, "documents")
    return d.groupBy("lang", "source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.sum(F.size(F.split("text", " ")).cast("long")).alias("total_tokens"),
        (F.sum("n_chars") / F.count("*").cast("double")).alias("avg_chars"),
    )


@query(
    "q_text_tokens",
    oracle="""
    SELECT tok, COUNT(*) AS n
    FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
    GROUP BY tok
    ORDER BY n DESC, tok
    LIMIT 20
    """,
)
def text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global token frequency top-20 (explode → count → top-k with
    lexicographic tiebreak). The explode happens after column pruning,
    so only the text column is scanned."""
    d = load(spark, sf_dir, "documents")
    return (
        d.select(F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("tok"))
        .limit(20)
    )


@query(
    "q_text_token_regex",
    oracle="""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+')) AS INT) AS n_bpeish,
           CAST(len(string_split(text, ' ')) AS INT) AS n_ws
    FROM documents
    """,
)
def text_token_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace split and a BPE-ish regex
    (`[a-z]+|[0-9]+` runs) — both JVM-side."""
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.regexp_count("text", F.lit("[a-z]+|[0-9]+")).cast("int").alias("n_bpeish"),
        F.size(F.split("text", " ")).alias("n_ws"),
    )


@query(
    "q_text_langid",
    oracle=f"""
    WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents),
    s AS (
      SELECT doc_id, lang,
             CAST(len(list_filter(toks, x -> list_contains({_sql_list(_STOPWORDS)}, x))) AS INT) AS en_hits,
             CAST(len(list_filter(toks, x -> list_contains({_sql_list(_FR_WORDS)}, x))) AS INT) AS fr_hits,
             CAST(len(list_filter(toks, x -> list_contains({_sql_list(_DE_WORDS)}, x))) AS INT) AS de_hits
      FROM t
    )
    SELECT doc_id, lang, en_hits, fr_hits, de_hits,
           CASE WHEN en_hits >= fr_hits AND en_hits >= de_hits THEN 'en'
                WHEN fr_hits >= de_hits THEN 'fr' ELSE 'de' END AS lang_guess
    FROM s
    """,
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram-free language-ID heuristic: stopword-hit argmax with a
    deterministic preference order (en > fr > de on ties)."""
    d = load(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.split("text", " ").alias("toks")
    )

    def hits(words: tuple[str, ...]):
        arr = F.array(*[F.lit(w) for w in words])
        return F.size(F.filter(F.col("toks"), lambda x: F.array_contains(arr, x)))

    s = d.select(
        "doc_id",
        "lang",
        hits(_STOPWORDS).alias("en_hits"),
        hits(_FR_WORDS).alias("fr_hits"),
        hits(_DE_WORDS).alias("de_hits"),
    )
    return s.withColumn(
        "lang_guess",
        F.when(
            (F.col("en_hits") >= F.col("fr_hits")) & (F.col("en_hits") >= F.col("de_hits")),
            "en",
        )
        .when(F.col("fr_hits") >= F.col("de_hits"), "fr")
        .otherwise("de"),
    )


@query(
    "q_text_quality",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, n_chars,
             string_split(text, ' ') AS toks,
             CAST(len(string_split(text, ' ')) AS INT) AS n_toks
      FROM documents
    )
    SELECT doc_id,
           FLOOR((0.5 * least(n_toks / 100.0, 1.0)
               + 0.3 * (CAST(len(list_filter(toks, x -> list_contains({_sql_list(_STOPWORDS)}, x))) AS DOUBLE) / n_toks)
               + 0.2 * least((CAST(n_chars AS DOUBLE) / n_toks) / 8.0, 1.0)) * 1000000.0 + 0.5) / 1000000.0 AS quality
    FROM t
    """,
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality score in [0,1]: length component + stopword
    ratio + average-word-length component, mirrored exactly in SQL.
    Rounded with ``round_half_up`` (floor-based), not ``F.round``: the
    integer-ratio terms produce terminating decimals that land exactly
    on the 6th-decimal boundary, where Spark's string-based round and
    DuckDB's binary round disagree (found at sf0.1, round 4)."""
    from steaminganalysis_spark.registry import round_half_up

    d = load(spark, sf_dir, "documents").select(
        "doc_id", "n_chars", F.split("text", " ").alias("toks")
    )
    n_toks = F.size("toks")
    arr = F.array(*[F.lit(w) for w in _STOPWORDS])
    stop_hits = F.size(F.filter(F.col("toks"), lambda x: F.array_contains(arr, x)))
    quality = round_half_up(
        0.5 * F.least(n_toks / F.lit(100.0), F.lit(1.0))
        + 0.3 * (stop_hits.cast("double") / n_toks)
        + 0.2 * F.least((F.col("n_chars").cast("double") / n_toks) / 8.0, F.lit(1.0)),
        6,
    )
    return d.select("doc_id", quality.alias("quality"))


@query(
    "q_text_tfidf",
    oracle="""
    WITH tf AS (
      SELECT doc_id, tok, COUNT(*) AS tf
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
      GROUP BY doc_id, tok
    ), df AS (
      SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok
    ), n AS (
      SELECT COUNT(*) AS n_docs FROM documents
    ), scored AS (
      SELECT doc_id, tok,
             round(tf * ln(CAST(n_docs AS DOUBLE) / df), 6) AS tfidf
      FROM tf JOIN df USING (tok) CROSS JOIN n
    )
    SELECT doc_id, tok, tfidf, CAST(rn AS INT) AS rn
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                   ORDER BY tfidf DESC, tok) AS rn
      FROM scored
    ) WHERE rn <= 5
    """,
)
def text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 TF-IDF terms per document. Shuffles: one on (doc_id, tok)
    for TF, one tiny one on tok for DF (broadcast back), one on doc_id
    for the top-k window. The corpus size joins in as a broadcast scalar
    — no collect. Scores are rounded before ranking with a lexicographic
    tiebreak so float noise cannot reorder."""
    d = load(spark, sf_dir, "documents")
    tf = (
        d.select("doc_id", F.explode(tokens("text")).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("tf"))
    )
    df = tf.groupBy("tok").agg(F.count("*").alias("df"))
    n = d.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(F.broadcast(df), "tok")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "tok",
            F.round(
                F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df")), 6
            ).alias("tfidf"),
        )
    )
    w = W.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("tok"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("doc_id", "tok", "tfidf", "rn")
    )


@query(
    "q_emb_centroid",
    oracle="""
    WITH e AS (SELECT label, embedding AS v FROM embeddings)
    SELECT label, CAST(i - 1 AS INT) AS dim,
           round(CAST(SUM(CAST(CAST(v[i] AS DOUBLE) AS DECIMAL(38,10))) AS DOUBLE)
                 / COUNT(*), 6) AS centroid
    FROM e, unnest(generate_series(1, len(v))) AS r(i)
    GROUP BY label, i
    """,
)
def emb_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid of the embedding vectors, one row per (label,
    dimension). The mean accumulates in exact decimal (order-insensitive
    — same discipline as ``dsum``) then rounds. posexplode fans 64 rows
    per vector map-side; the shuffle key (label, dim) has tiny
    cardinality, so partial aggregation collapses the volume before the
    exchange."""
    e = load(spark, sf_dir, "embeddings")
    ex = e.select("label", F.posexplode("embedding").alias("dim", "x"))
    mean = (
        F.sum(F.col("x").cast("double").cast("decimal(38,10)")).cast("double")
        / F.count("*")
    )
    return ex.groupBy("label", "dim").agg(F.round(mean, 6).alias("centroid"))


@query(
    "q_text_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(array_to_string(list_sort(string_split(text, ' ')), ' ')) AS fingerprint
    FROM documents
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-insensitive document fingerprint: md5 over the sorted token
    bag — catches shuffled-word duplicates that exact hashing misses."""
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.md5(F.concat_ws(" ", F.sort_array(F.split("text", " ")))).alias("fingerprint"),
    )


N_PROFILE = 50  # top trigrams kept per language profile


@query(
    "q_text_langid_ngram",
    oracle=f"""
    WITH tri AS (
      SELECT doc_id, lang,
             unnest(list_transform(generate_series(1, len(text) - 2),
                                   i -> substr(text, i, 3))) AS tg
      FROM documents WHERE len(text) >= 3
    ), dtri AS (
      SELECT DISTINCT doc_id, lang, tg FROM tri
    ), prof AS (
      SELECT lang AS plang, tg FROM (
        SELECT lang, tg,
               ROW_NUMBER() OVER (PARTITION BY lang
                                  ORDER BY COUNT(*) DESC, tg) AS rn
        FROM tri GROUP BY lang, tg
      ) WHERE rn <= {N_PROFILE}
    ), overlap AS (
      SELECT d.doc_id, d.lang, p.plang, COUNT(*) AS hits
      FROM dtri d JOIN prof p ON d.tg = p.tg
      GROUP BY 1, 2, 3
    )
    SELECT doc_id, lang, plang AS lang_pred, hits
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                   ORDER BY hits DESC, plang) AS rn
      FROM overlap
    ) WHERE rn = 1
    """,
)
def text_langid_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-n-gram language ID, train + classify in one plan:
    per-language top-50 trigram profiles are learned from the labeled
    corpus itself, then each document is classified to the profile with
    the largest distinct-trigram overlap (deterministic tiebreaks at
    both ranking stages).

    Scale shape: the profile is ≤ 50 rows per language — broadcast —
    so classification is one map-side join over the exploded trigrams
    plus a (doc, lang) count; the corpus is never shuffled by trigram
    twice (profile build is its own branch). All string slicing is
    JVM-side (`substr` over a `sequence`), no UDFs."""
    d = load(spark, sf_dir, "documents").filter(F.length("text") >= 3)
    tg = F.explode(
        F.transform(
            F.sequence(F.lit(1), F.length("text") - 2),
            lambda i: F.col("text").substr(i, F.lit(3)),
        )
    ).alias("tg")
    tri = d.select("doc_id", "lang", tg)
    dtri = tri.distinct()
    prof_w = W.partitionBy("lang").orderBy(F.col("cnt").desc(), F.col("tg"))
    prof = (
        tri.groupBy("lang", "tg")
        .agg(F.count("*").alias("cnt"))
        .withColumn("rn", F.row_number().over(prof_w))
        .filter(F.col("rn") <= N_PROFILE)
        .select(F.col("lang").alias("plang"), "tg")
    )
    overlap = (
        dtri.join(F.broadcast(prof), "tg")
        .groupBy("doc_id", "lang", "plang")
        .agg(F.count("*").alias("hits"))
    )
    pick = W.partitionBy("doc_id").orderBy(F.col("hits").desc(), F.col("plang"))
    return (
        overlap.withColumn("rn", F.row_number().over(pick))
        .filter(F.col("rn") == 1)
        .select("doc_id", "lang", F.col("plang").alias("lang_pred"), "hits")
    )


@query(
    "q_text_entropy",
    oracle="""
    WITH tok AS (
      SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents
    ), tf AS (
      SELECT source, tok, COUNT(*) AS c FROM tok GROUP BY source, tok
    ), tot AS (
      SELECT source, SUM(c) AS n FROM tf GROUP BY source
    )
    SELECT tf.source,
           CAST(SUM(CAST(round(-(c / CAST(n AS DOUBLE))
                                 * ln(c / CAST(n AS DOUBLE)), 12)
                         AS DECIMAL(28,12))) AS DOUBLE) AS entropy_nats,
           CAST(COUNT(*) AS BIGINT) AS vocab
    FROM tf JOIN tot ON tf.source = tot.source
    GROUP BY tf.source
    """,
)
def text_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-distribution Shannon entropy per source (vocabulary
    diversity — a corpus-quality signal). Each −p·ln p term is rounded
    to 12 decimals and accumulated in exact decimal so the sum is
    partition-order-proof, mirroring the engine's dsum discipline."""
    d = load(spark, sf_dir, "documents")
    tf = (
        d.select("source", F.explode(tokens("text")).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count("*").alias("c"))
    )
    tot = tf.groupBy("source").agg(F.sum("c").alias("n"))
    p = F.col("c") / F.col("n").cast("double")
    term = F.round(-p * F.log(p), 12).cast("decimal(28,12)")
    return (
        tf.join(F.broadcast(tot), "source")
        .groupBy("source")
        .agg(
            F.sum(term).cast("double").alias("entropy_nats"),
            F.count("*").alias("vocab"),
        )
    )


@query("q_sim_topk_arrow")  # rows-only: numpy sum order differs in last ulps from the JVM fold
def sim_topk_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-vectorized variant of q_sim_topk: the dot products run in a
    pandas UDF as one numpy matrix multiply per Arrow batch against the
    broadcast query matrix — the Python-side scale path when the scoring
    kernel outgrows JVM expressions (same shape as a real embedding
    scorer). Ranking/tiebreak rules are identical to q_sim_topk;
    tests/test_llm_and_approx.py pins result equality against the JVM
    kernel at the rounding precision."""
    from pyspark.sql.functions import pandas_udf

    e = load(spark, sf_dir, "embeddings")
    qrows = (
        e.filter(F.col("vec_id") < 50)
        .select("vec_id", "embedding")
        .collect()
    )  # 50 query vectors: a deliberate, tiny driver-side broadcast
    q_ids = np.array([r.vec_id for r in qrows], dtype=np.int64)
    q_mat = np.array([r.embedding for r in qrows], dtype=np.float64)
    q_norm = np.sqrt((q_mat * q_mat).sum(axis=1))
    bq_ids = spark.sparkContext.broadcast(q_ids)
    bq = spark.sparkContext.broadcast(q_mat)
    bqn = spark.sparkContext.broadcast(q_norm)

    @pandas_udf("array<struct<query_id: long, cosine: double>>")
    def score(emb: pd.Series) -> pd.Series:
        m = np.array(emb.tolist(), dtype=np.float64)  # batch × dim
        norms = np.sqrt((m * m).sum(axis=1))
        cos = (m @ bq.value.T) / np.outer(norms, bqn.value)  # batch × nq
        ids = bq_ids.value
        return pd.Series(
            [
                [
                    {"query_id": int(ids[j]), "cosine": float(row[j])}
                    for j in range(len(ids))
                ]
                for row in cos
            ]
        )

    scored = (
        e.select(F.col("vec_id").alias("neighbor_id"), score("embedding").alias("s"))
        .select("neighbor_id", F.explode("s").alias("qc"))
        .select("qc.query_id", "neighbor_id", "qc.cosine")
        .filter(F.col("neighbor_id") != F.col("query_id"))
    )
    w = W.partitionBy("query_id").orderBy(
        F.round(F.col("cosine"), 6).desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("query_id", "neighbor_id", F.round("cosine", 6).alias("cosine"), "rn")
    )


HH_LOCAL_M = 100  # candidates kept per partition
HH_K = 10


@query("q_text_heavy_hitters")  # rows-only: candidate recall is heuristic; subset-tested vs exact
def text_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate heavy hitters (top-10 tokens) with the two-phase
    shape that works at 100 TB: (1) per-PARTITION local top-100 token
    counts in a mapInPandas Counter — no shuffle, bounded memory, output
    ≤ 100 rows per partition regardless of input size; (2) exact global
    recount of the surviving candidate set only (semi-join), then top-k.
    The full token multiset is never shuffled — contrast q_text_tokens,
    which shuffles every distinct token. Equality with the exact top-10
    is pinned in tests (holds whenever every true heavy hitter is
    locally heavy somewhere — the Zipfian case)."""
    d = load(spark, sf_dir, "documents")
    toks = d.select(F.explode(tokens("text")).alias("tok"))

    def local_topm(batches):
        from collections import Counter

        c = Counter()
        for pdf in batches:
            c.update(pdf["tok"])
        rows = c.most_common(HH_LOCAL_M)
        yield pd.DataFrame({"tok": [t for t, _ in rows]})

    candidates = toks.mapInPandas(local_topm, schema="tok string").distinct()
    return (
        toks.join(F.broadcast(candidates), "tok", "left_semi")
        .groupBy("tok")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("tok"))
        .limit(HH_K)
    )


@query("q_dedup_clusters")  # rows-only: iterative algorithm; verified vs union-find in tests
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate CLUSTERS (not just pairs): connected components over
    the exact-Jaccard near-dup pair graph via min-label propagation —
    each doc's label becomes the smallest doc_id reachable from it, so
    `cluster_id` elects the canonical (keep) document per group and
    everything else is droppable. This is the step after pair
    generation in a real dedup pipeline (A~B, B~C must collapse to ONE
    keeper even though A~C was never compared).

    Distributed shape: per iteration one join of labels against the
    (tiny) symmetric edge list + a min-aggregate — label propagation,
    the standard large-scale CC algorithm. Iterates to a fixed point
    with a driver-side convergence check on a scalar count; edges are
    the near-dup pairs (bounded output of LSH/Jaccard), never the
    corpus."""
    pairs = QUERIES["q_dedup_ngram_jaccard"](spark, sf_dir).select("doc_a", "doc_b")
    edges = pairs.union(
        pairs.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    ).persist()
    members = (
        edges.select(F.col("doc_a").alias("doc_id"))
        .distinct()
        .withColumn("cluster_id", F.col("doc_id"))
        .persist()
    )
    for _ in range(10):
        neighbor_min = (
            members.join(edges, members.doc_id == edges.doc_a)
            .groupBy(F.col("doc_b").alias("doc_id"))
            .agg(F.min("cluster_id").alias("nbr_min"))
        )
        updated = (
            members.join(neighbor_min, "doc_id", "left")
            .select(
                "doc_id",
                F.least(
                    F.col("cluster_id"), F.coalesce("nbr_min", F.col("cluster_id"))
                ).alias("cluster_id"),
            )
            .persist()
        )
        changed = (
            updated.alias("u")
            .join(members.alias("m"), "doc_id")
            .filter(F.col("u.cluster_id") != F.col("m.cluster_id"))
            .count()
        )
        members.unpersist()
        members = updated
        if changed == 0:
            break
    edges.unpersist()
    return members.withColumn(
        "is_canonical", (F.col("doc_id") == F.col("cluster_id")).cast("boolean")
    )


@query(
    "q_emb_quantize",
    oracle="""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ), stats AS (
      SELECT vec_id, v, list_min(v) AS lo, list_max(v) AS hi FROM e
    ), q AS (
      SELECT vec_id,
             list_transform(v, x -> CAST(floor((x - lo) / (hi - lo) * 255.0) AS BIGINT)) AS qv
      FROM stats
    )
    SELECT vec_id,
           CAST(list_sum(qv) AS BIGINT) AS q_sum,
           CAST(list_min(qv) AS BIGINT) AS q_min,
           CAST(list_max(qv) AS BIGINT) AS q_max
    FROM q
    """,
)
def emb_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector int8-style scalar quantization (embedding compression
    for storage/serving: 4 bytes/dim → 1): map each component to
    floor((x-min)/(max-min)*255). Emitted as integer checksums
    (sum/min/max of the quantized codes) — integer-exact on both
    engines, so the whole quantization arithmetic is hash-verified.
    All JVM higher-order expressions; one map-side pass, no shuffle."""
    e = load(spark, sf_dir, "embeddings")
    v = to_double_array("embedding")
    lo, hi = F.array_min(v), F.array_max(v)
    qv = F.transform(v, lambda x: F.floor((x - lo) / (hi - lo) * 255.0))
    return e.select(
        "vec_id",
        F.aggregate(qv, F.lit(0).cast("long"), lambda a, x: a + x).alias("q_sum"),
        F.array_min(qv).alias("q_min"),
        F.array_max(qv).alias("q_max"),
    )


@query(
    "q_pack_sequences",
    oracle="""
    WITH toks AS (
      SELECT source, doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents
    ), packed AS (
      SELECT source, doc_id, n_tokens,
             CAST(floor((SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                                             ROWS UNBOUNDED PRECEDING) - n_tokens)
                        / 2000.0) AS BIGINT) AS pack_id
      FROM toks
    )
    SELECT source, pack_id,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS pack_tokens
    FROM packed
    GROUP BY source, pack_id
    """,
)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for training batches: per source, docs in
    doc_id order are packed greedily into ~2000-token bins (bin id =
    floor of the exclusive running token total / budget) — the
    deterministic, shuffle-light version of LLM batch packing. One
    window cumsum + one tiny rollup, both on the same source
    partitioning (single exchange)."""
    d = load(spark, sf_dir, "documents")
    toks = d.select(
        "source",
        "doc_id",
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
    )
    w = W.partitionBy("source").orderBy("doc_id").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    packed = toks.withColumn(
        "pack_id",
        F.floor((F.sum("n_tokens").over(w) - F.col("n_tokens")) / 2000.0),
    )
    return packed.groupBy("source", "pack_id").agg(
        F.count("*").alias("n_docs"), F.sum("n_tokens").alias("pack_tokens")
    )


@query(
    "q_dedup_containment",
    oracle="""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    sh AS (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
           FROM toks, unnest(generate_series(1, len(t) - 2)) AS r(i)),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
              FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
              GROUP BY 1, 2)
    SELECT doc_a, doc_b,
           FLOOR(CAST(n_common AS DOUBLE) / sa.n * 1000000.0 + 0.5) / 1000000.0 AS containment
    FROM inter JOIN sizes sa ON doc_a = sa.doc_id
    WHERE CAST(n_common AS DOUBLE) / sa.n >= 0.9
    """,
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle CONTAINMENT |A∩B|/|A| ≥ 0.9 — the asymmetric cousin of
    Jaccard that catches sub-document duplication (doc A quoted inside a
    larger B), which symmetric Jaccard misses when |B| ≫ |A|. Same
    hashed-shingle self-join shape; the ordered (doc_a, doc_b) pair
    space keeps both directions."""
    # stage the shingle table once (same rationale as
    # dedup_ngram_jaccard: Catalyst otherwise re-plans the
    # generate+distinct for each aliased branch)
    sh = stage(_shingle_hashes(spark, sf_dir), "containment_shingles", bucket_col="h")
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    shn = sh.join(F.broadcast(sizes), "doc_id")
    a = shn.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.n").alias("na"),
        )
        .agg(F.count("*").alias("n_common"))
    )
    cont = F.col("n_common").cast("double") / F.col("na")
    from steaminganalysis_spark.registry import round_half_up

    return inter.filter(cont >= 0.9).select(
        "doc_a", "doc_b", round_half_up(cont, 6).alias("containment")
    )


# ---------------------------------------------------------------- JL projection

_RP_OUT_DIMS = 4
_RP_IN_DIMS = 64
_RP_SCALE = 10_000.0  # fixed-point scale for exact cross-engine sums


def _rp_signs() -> list[list[int]]:
    """±1 random-projection matrix (Achlioptas'01 sign variant of
    Johnson–Lindenstrauss), seeded from md5 of the (row, col) index —
    a COMPILE-TIME constant: both the Spark plan and the DuckDB oracle
    embed the identical literal matrix, so nothing about the
    projection depends on engine RNGs."""
    import hashlib

    return [
        [
            1 if hashlib.md5(f"rp:{j}:{i}".encode()).digest()[0] % 2 == 0 else -1
            for i in range(_RP_IN_DIMS)
        ]
        for j in range(_RP_OUT_DIMS)
    ]


def _rp_oracle() -> str:
    cols = ",\n           ".join(
        f"CAST(list_sum(list_transform(generate_series(1, {_RP_IN_DIMS}), "
        f"i -> q[i] * ([{', '.join(str(s) for s in row)}])[i])) AS BIGINT) AS p{j}"
        for j, row in enumerate(_rp_signs())
    )
    return f"""
    WITH c AS (
      SELECT vec_id,
             list_transform(embedding,
                            x -> CAST(FLOOR(CAST(x AS DOUBLE) * {_RP_SCALE} + 0.5) AS BIGINT)) AS q
      FROM embeddings
    )
    SELECT vec_id,
           {cols}
    FROM c
    """


@query("q_emb_random_projection", oracle=_rp_oracle())
def emb_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random projection (Johnson–Lindenstrauss) of the embedding
    column to {K} dims with a seeded ±1 sign matrix — the standard
    cheap dimensionality reduction in front of clustering / LSH /
    shuffle-heavy similarity stages (project first, then shuffle {K}
    numbers per row instead of {D}). Components are fixed-pointed at
    scale 1e4 BEFORE the signed sums, so every projected coordinate is
    an exact int64 on both engines and the whole projection arithmetic
    is value-hash-verified (the `q_emb_quantize` convention).

    Scale shape: a PURE MAP — one transform() to fixed-point, {K}
    zip_with/aggregate folds per row, all JVM higher-order expressions
    inside whole-stage codegen; zero exchanges, zero Python, and the
    sign matrix is a plan literal (nothing is broadcast or collected).
    At 100 TB this runs at scan speed and cuts every downstream
    shuffle's width by {D}/{K}×."""
    e = load(spark, sf_dir, "embeddings")
    q = F.transform(
        to_double_array("embedding"),
        lambda x: F.floor(x * F.lit(_RP_SCALE) + F.lit(0.5)).cast("long"),
    )
    signs = _rp_signs()
    proj = [
        F.aggregate(
            F.zip_with(
                q,
                F.array(*[F.lit(s) for s in signs[j]]).cast("array<long>"),
                lambda a, b: a * b,
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias(f"p{j}")
        for j in range(_RP_OUT_DIMS)
    ]
    return e.select("vec_id", *proj)


emb_random_projection.__doc__ = emb_random_projection.__doc__.replace(
    "{K}", str(_RP_OUT_DIMS)
).replace("{D}", str(_RP_IN_DIMS))


@query(
    "q_knn_graph",
    oracle=_SIM_ORACLE_BASE.replace("WHERE a.vec_id < 50", "")
    + """
    , sym AS (
      SELECT query_id AS src, neighbor_id AS dst, round(cosine, 6) AS cosine
      FROM pairs WHERE round(cosine, 6) >= 0.4
    ), ranked AS (
      SELECT src, dst, cosine,
             ROW_NUMBER() OVER (PARTITION BY src
                                ORDER BY cosine DESC, dst) AS rn
      FROM sym
    )
    SELECT src, dst, cosine, rn FROM ranked WHERE rn <= 3
    """,
)
def knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-nearest-neighbor GRAPH construction over the whole embedding
    table (every vector's top-3 neighbors among those with cosine ≥
    0.4) — the neighbor-graph build behind SemDeDup clustering,
    graph-based ANN indexes, and duplicate-cluster mining. Unlike
    ``q_sim_topk`` (a small broadcast query set against the corpus)
    this is corpus × corpus: the only viable scale shape is candidate
    generation by LSH bucket EQUI-join (the same 24-table × 2-bit
    hyperplane family as ``q_sim_threshold_pairs``, per-true-pair miss
    ~5e-6 at τ=0.4 — the registered oracle stays the exact all-pairs
    SQL), exact cosine on candidates only, then a per-source top-3 via
    ROW_NUMBER with a deterministic (cosine desc, dst) tie-break —
    rank-based per-group limits compile to WindowGroupLimit, so the
    partial top-k runs before the exchange. The threshold matters at
    100 TB twice: it bounds pair count AND makes the window partition
    per-vector state O(k)."""
    base = _emb_double(spark, sf_dir)
    cand = _lsh_candidate_pairs(base, THRESH_LSH_TABLES, THRESH_LSH_BITS)
    scored = _score_pairs_exact(base, cand, 0.4)
    from steaminganalysis_spark.operators.graph import _sym_edges

    sym = _sym_edges(scored, "vec_a", "vec_b", ["cosine"])
    w = W.partitionBy("src").orderBy(F.desc("cosine"), F.asc("dst"))
    return (
        sym.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("src", "dst", "cosine", "rn")
    )


# Selective kNN-graph configuration (the production operating point):
# τ=0.7 with 12 bits × 64 tables. Per-bucket random-pair collision is
# 0.5^12, so expected candidate volume is ~64/4096 ≈ 1.6% of n²/2 —
# provably sub-quadratic-constant vs the τ=0.4 key's effectively
# all-pairs candidates (2 bits × 24 tables exists for RECALL at the
# weak-similarity regime; this key exists for SELECTIVITY at the
# near-duplicate regime, which is where 100 TB dedup actually runs).
# Recall at the planted-pair floor (cosine ≈ 0.88, p_bit ≈ 0.845):
# per-pair miss = (1 − 0.845¹²)^64 ≈ 1e-4; exact equality with the
# all-pairs oracle on the fixtures is the gate, pinned every round.
SELECTIVE_LSH_BITS = 12
SELECTIVE_LSH_TABLES = 64
SELECTIVE_TAU = 0.7
_AUG_C1_OFFSET = 1_000_000
_AUG_C2_OFFSET = 2_000_000

_HYPERPLANES: dict[tuple[int, int], np.ndarray] = {}


def _hyperplanes(n_planes: int, dim: int) -> np.ndarray:
    """Deterministic ±1 hyperplane family, n_planes × dim: row p's
    signs are the bits of blake2b(p) — reproducible forever across
    sessions, partitionings, and library versions (no RNG state).
    Plane p is the same matrix row in EVERY family, so families of
    different widths share a common prefix; the cache keys by shape.
    Materialized as a numpy matrix so bucketing is ONE sign(V @ Hᵀ)
    matmul per Arrow batch instead of per-plane interpreted HOF lambda
    passes per row."""
    key = (n_planes, dim)
    if key not in _HYPERPLANES:
        import hashlib

        n_bytes = (dim + 7) // 8
        rows = []
        for p in range(n_planes):
            dgst = hashlib.blake2b(
                p.to_bytes(4, "big"), digest_size=n_bytes
            ).digest()
            bits = np.unpackbits(np.frombuffer(dgst, dtype=np.uint8))[:dim]
            rows.append(bits.astype(np.float64) * 2.0 - 1.0)
        _HYPERPLANES[key] = np.stack(rows)
    return _HYPERPLANES[key]


def _matmul_buckets(tables: int, bits: int):
    """All ``tables`` bucket ids for each vector in one vectorized
    step: sign bits of V @ Hᵀ, packed ``bits`` per table.
    Arrow-batched — the per-batch cost is a single (batch × dim) @
    (dim × tables·bits) BLAS call, the 10-100× Pandas-UDF-over-
    row-lambda rule from the module docstring applied to hashing
    instead of scoring. Shared by every LSH family in this module
    (threshold/ANN via ``_lsh_candidate_pairs``, selective kNN via
    ``_selective_candidate_pairs``). Built lazily: ``pandas_udf``
    parses its DDL return type against the ACTIVE session, so
    decorating at module import would break session-free imports of
    this module."""

    def impl(v: pd.Series) -> pd.Series:
        V = np.stack(v.to_numpy()).astype(np.float64)
        S = (V @ _hyperplanes(tables * bits, V.shape[1]).T) > 0
        S = S.reshape(len(V), tables, bits)
        powers = 1 << np.arange(bits, dtype=np.int64)
        B = (S * powers).sum(axis=2)
        return pd.Series(list(B))

    return F.pandas_udf(impl, "array<bigint>")


def _aug_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The embedding table augmented with planted near-duplicates —
    the synthesize-then-verify pattern (operators/multimodal.py): the
    natural fixture has NO pairs above cosine 0.65, so a τ=0.7 key
    over it alone would be vacuously green on an empty result. Every
    10th vector gets two companions: c1 zeroes the last two
    coordinates (id + 1e6), c2 the first two (id + 2e6). Each family
    {v, c1, c2} is a triangle of true near-duplicates (pairwise cosine
    ≥ 0.88 on all shipped fixtures, pinned), and the construction is
    pure coordinate surgery — expressible identically in Spark and
    DuckDB with zero floating-point arithmetic, so both engines score
    the exact same augmented corpus."""
    e = load(spark, sf_dir, "embeddings")
    v = to_double_array("embedding")
    raw = e.select("vec_id", v.alias("v"))
    fam = raw.filter(F.col("vec_id") % 10 == 0)
    zeros2 = F.array(F.lit(0.0), F.lit(0.0))
    c1 = fam.select(
        (F.col("vec_id") + _AUG_C1_OFFSET).alias("vec_id"),
        F.concat(F.slice("v", 1, 62), zeros2).alias("v"),
    )
    c2 = fam.select(
        (F.col("vec_id") + _AUG_C2_OFFSET).alias("vec_id"),
        F.concat(zeros2, F.expr("slice(v, 3, 62)")).alias("v"),
    )
    aug = raw.unionAll(c1).unionAll(c2)
    return aug.select("vec_id", "v", norm(F.col("v")).alias("norm"))


def _selective_candidate_pairs(base: DataFrame) -> DataFrame:
    """Candidate (vec_a < vec_b) pairs sharing any (table, bucket)
    under the selective 12-bit × 64-table family — the shared
    ``_lsh_candidate_pairs`` machinery at a different bucket width: at
    12 bits a random pair collides in a given table with p = 2⁻¹² ≈
    0.02%, so the join output is a ~1.6% sample of the pair space
    instead of effectively all of it."""
    return _lsh_candidate_pairs(
        base,
        SELECTIVE_LSH_TABLES,
        SELECTIVE_LSH_BITS,
        tag="selective_lsh_buckets",
    )


_SELECTIVE_ORACLE = f"""
    WITH raw AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ), aug AS (
      SELECT vec_id, v FROM raw
      UNION ALL
      SELECT vec_id + {_AUG_C1_OFFSET},
             list_slice(v, 1, 62) || [CAST(0 AS DOUBLE), CAST(0 AS DOUBLE)]
      FROM raw WHERE vec_id % 10 = 0
      UNION ALL
      SELECT vec_id + {_AUG_C2_OFFSET},
             [CAST(0 AS DOUBLE), CAST(0 AS DOUBLE)] || list_slice(v, 3, 64)
      FROM raw WHERE vec_id % 10 = 0
    ), n AS (
      SELECT vec_id, v,
             sqrt(list_sum(list_transform(generate_series(1, len(v)),
                                          i -> v[i] * v[i]))) AS nrm
      FROM aug
    ), sym AS (
      SELECT a.vec_id AS src, b.vec_id AS dst,
             round(list_sum(list_transform(generate_series(1, len(a.v)),
                                           i -> a.v[i] * b.v[i]))
                   / (a.nrm * b.nrm), 6) AS cosine
      FROM n a JOIN n b ON a.vec_id <> b.vec_id
    ), ranked AS (
      SELECT src, dst, cosine,
             ROW_NUMBER() OVER (PARTITION BY src
                                ORDER BY cosine DESC, dst) AS rn
      FROM sym WHERE cosine >= {SELECTIVE_TAU}
    )
    SELECT src, dst, cosine, rn FROM ranked WHERE rn <= 3
"""


@query("q_knn_graph_selective", oracle=_SELECTIVE_ORACLE)
def knn_graph_selective(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-nearest-neighbor graph at the SELECTIVE production operating
    point — the answer to ``q_knn_graph``'s one standing scale flag:
    that key's registered τ=0.4 / 2-bit config is correct but its LSH
    candidates are effectively all-pairs at fixture scale (candidate
    generation dominates its 7.1 s bench entry). Near-duplicate
    detection at 100 TB runs at high similarity, where LSH is actually
    selective: τ={0.7} with {12} bits × {64} tables makes a random
    pair collide somewhere with probability ~1.6% — candidate volume
    drops ×60 while every true pair (all ≥ 0.88 cosine on the
    augmented fixtures, pinned) still collides with probability
    ≥ 1 − 1e-4 per pair. The oracle stays the EXACT all-pairs SQL over
    the same augmented corpus, so the green hash certifies recall = 1
    on the fixture, not a sampled estimate of it.

    Plan: one Arrow-batched matmul per batch for bucketing (no
    per-row lambda), staged bucket table, equi-join candidates, exact
    cosine re-score on the surviving ~1.6%, per-source top-3 via
    ROW_NUMBER (WindowGroupLimit). Candidate count ≪ n²/2 at sf0.1 is
    pinned in tests/test_llm_and_approx.py."""
    base = _aug_embeddings(spark, sf_dir)
    cand = _selective_candidate_pairs(base)
    scored = _score_pairs_exact(base, cand, SELECTIVE_TAU)
    from steaminganalysis_spark.operators.graph import _sym_edges

    sym = _sym_edges(scored, "vec_a", "vec_b", ["cosine"])
    w = W.partitionBy("src").orderBy(F.desc("cosine"), F.asc("dst"))
    return (
        sym.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("src", "dst", "cosine", "rn")
    )


@query(
    "q_dedup_jaccard_prefix",
    oracle="""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    sh AS (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
           FROM toks, unnest(generate_series(1, len(t) - 2)) AS r(i)),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                     CAST(COUNT(*) AS BIGINT) AS n_common
              FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
              GROUP BY 1, 2)
    SELECT doc_a, doc_b, n_common,
           CAST(sa.n + sb.n - n_common AS BIGINT) AS n_union,
           CAST((n_common * 1000000) // (sa.n + sb.n - n_common) AS BIGINT)
             AS jaccard_ppm
    FROM inter
    JOIN sizes sa ON doc_a = sa.doc_id
    JOIN sizes sb ON doc_b = sb.doc_id
    WHERE 5 * n_common >= 3 * (sa.n + sb.n - n_common)
    ORDER BY doc_a, doc_b
    """,
)
def dedup_jaccard_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-filtered set-similarity self-join (AllPairs/PPJoin family
    — Bayardo et al. WWW'07, Xiao et al. WWW'08): EXACT Jaccard ≥ 0.6
    over shingle sets, but candidates come from a PREFIX of each set
    rather than every element. Order each document's shingles by
    global rarity (document frequency, then hash — one total order
    both sides of the join agree on); a pair with J ≥ t must share an
    element within each side's first n − ⌈t·n⌉ + 1 shingles, so only
    prefix rows enter the candidate equi-join. Against
    ``q_dedup_ngram_jaccard`` (which joins on ALL shingles), the
    candidate stream shrinks by ×(prefix/n) on each side — at t=0.6
    that is ~40% of the rows and ~16% of the collision pairs, and the
    rarity ordering concentrates prefixes on the least-collideable
    keys, which is exactly what survives at 100 TB where the shared-
    anything candidate set explodes. Exactness is preserved (the
    filter only prunes pairs that provably cannot reach t): the final
    verify joins the candidates back to the FULL shingle sets, and the
    oracle is the brute-force all-pairs SQL. Thresholds are enforced
    in integer arithmetic (5·∩ ≥ 3·∪) so both engines decide
    boundaries identically; completeness vs the exact pair set is also
    pinned as a test (tests/test_llm_and_approx.py).
    """
    sh = stage(_shingle_hashes(spark, sf_dir), "prefix_sh", bucket_col="doc_id")
    # global rarity of each shingle (document frequency) — joined back,
    # not broadcast: the shingle vocabulary is corpus-sized.
    dfreq = sh.groupBy("h").agg(F.count("*").alias("df"))
    ranked = sh.join(dfreq, "h")
    w = W.partitionBy("doc_id").orderBy("df", "h")
    annotated = ranked.select(
        "doc_id",
        "h",
        F.row_number().over(w).alias("pos"),
        F.count("*").over(W.partitionBy("doc_id")).alias("n"),
    )
    # prefix length for J ≥ 3/5: n − ceil(3n/5) + 1, all integer ops
    prefix = annotated.filter(
        F.col("pos") <= F.col("n") - F.expr("(3 * n + 4) div 5") + F.lit(1)
    ).select("doc_id", "h", "n")
    a, b = prefix.alias("a"), prefix.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            # length filter: J(A,B) ≥ 3/5 needs 3·max ≤ 5·min
            & (F.lit(3) * F.col("b.n") <= F.lit(5) * F.col("a.n"))
            & (F.lit(3) * F.col("a.n") <= F.lit(5) * F.col("b.n")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.n").alias("na"),
            F.col("b.n").alias("nb"),
        )
        .distinct()
    )
    # verify candidates against the FULL sets: candidates ⋈ shingles(a)
    # ⋈ shingles(b) — cost is candidates × set size, not pairs × sets
    full = sh.select("doc_id", "h")
    inter = (
        cand.join(full.selectExpr("doc_id AS doc_a", "h"), "doc_a")
        .join(full.selectExpr("doc_id AS doc_b", "h"), ["doc_b", "h"])
        .groupBy("doc_a", "doc_b", "na", "nb")
        .agg(F.count("*").alias("n_common"))
    )
    n_union = F.col("na") + F.col("nb") - F.col("n_common")
    return (
        inter.filter(F.lit(5) * F.col("n_common") >= F.lit(3) * n_union)
        .select(
            "doc_a",
            "doc_b",
            "n_common",
            n_union.cast("long").alias("n_union"),
            F.expr("(n_common * 1000000) div (na + nb - n_common)").alias(
                "jaccard_ppm"
            ),
        )
        .orderBy("doc_a", "doc_b")
    )


PCA_ITERATIONS = 8
PCA_TOPK = 3


def _pca_matvec(staged: DataFrame, mu, v):
    """One distributed covariance matvec w = Σ_x (x−μ)·((x−μ)ᵀv):
    the per-row work is a fused JVM dot-product + scale, the reduce is
    a dim-length per-dimension SUM (partial-combined map-side), so the
    driver transfer is O(dim) — never the data. Shared by the top-1
    power iteration (``q_emb_pca_power``) and the deflated top-k
    variant (``q_emb_pca_topk``)."""
    import numpy as np

    mu_lit = F.array(*[F.lit(float(m)) for m in mu])
    v_lit = F.array(*[F.lit(float(c)) for c in v])
    centered = F.zip_with("v", mu_lit, lambda a, b: a - b)
    dot_ = F.aggregate(
        F.zip_with(centered, v_lit, lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    contrib = staged.select(
        F.posexplode(F.transform(centered, lambda c: c * dot_)).alias("d", "w")
    )
    w_rows = contrib.groupBy("d").agg(F.sum("w").alias("s")).orderBy("d").collect()
    return np.array([r["s"] for r in w_rows])


@query("q_emb_pca_power")  # rows-only: float summation order; cosine-equivalence vs numpy pinned
def emb_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the embedding table by distributed
    POWER ITERATION — the third iterative-algorithm family next to
    Lloyd (operators/ann.py) and label propagation (q_graph_wcc /
    q_dedup_clusters), and the standard preprocessing step (whitening /
    energy compaction) before PQ codebook training. Eight fixed
    rounds of v ← Σ_x (x−μ)·((x−μ)ᵀv), normalized on the driver:

    - the mean vector μ and each iteration's unnormalized direction
      are dim-length aggregates — per-dimension SUMs after a
      posexplode, partial-combined map-side, so the driver transfer is
      O(iterations × dim) exactly like Lloyd's K×dim — never the data;
    - the per-row work is a fused dot-product + scale over the array
      column (JVM higher-order functions, zero Python);
    - the sign is fixed deterministically (first nonzero coordinate
      positive) so runs are comparable.

    Rows-only: double summation order differs between engines and
    partitionings; the pinned test instead checks |cos(v, v_numpy)| ≥
    1−1e-9 against the identical algorithm in numpy, plus Rayleigh
    quotient ≥ second-moment mean (a true top-eigenpair property).
    Returns one row per dimension: (dim, component, eigenvalue)."""
    import numpy as np

    base = _emb_double(spark, sf_dir).select("vec_id", "v")
    staged = stage(base, "pca_emb")
    dim = len(staged.select("v").first()["v"])
    exploded = staged.select(F.posexplode("v").alias("d", "x"))
    mu_rows = (
        exploded.groupBy("d").agg(F.sum("x").alias("s"), F.count("*").alias("c"))
        .orderBy("d")
        .collect()
    )
    mu = np.array([r["s"] / r["c"] for r in mu_rows])
    v = np.zeros(dim)
    v[0] = 1.0  # deterministic start
    eigenvalue = 0.0
    n_rows = mu_rows[0]["c"]
    for _ in range(PCA_ITERATIONS):
        w = _pca_matvec(staged, mu, v)
        eigenvalue = float(np.linalg.norm(w)) / n_rows
        v = w / np.linalg.norm(w)
    nz = np.nonzero(v)[0]
    if len(nz) and v[nz[0]] < 0:
        v = -v
    rows = [(int(d), float(v[d]), float(eigenvalue)) for d in range(dim)]
    return staged.sparkSession.createDataFrame(
        rows, "dim int, component double, eigenvalue double"
    )


@query("q_emb_pca_topk")  # rows-only: float summation order; per-component cosine-equivalence vs numpy pinned
def emb_pca_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{K} principal components by power iteration WITH DEFLATION —
    the dimensionality-reduction step real embedding pipelines run
    (energy compaction before PQ codebooks, whitening before k-means,
    2-3-component projections for corpus visualization), extending
    ``q_emb_pca_power``'s single direction to an orthonormal basis.
    Component j runs the same eight distributed matvec rounds, but
    each iterate is projected off the previously-found components
    (Gram-Schmidt against U — classic deflation) before normalizing,
    so the iteration converges to the j-th eigenpair instead of
    re-finding the first.

    Scale shape: identical to the top-1 key per round — the corpus is
    staged ONCE and scanned k × iterations times; every reduce is a
    dim-length per-dimension SUM and the deflation arithmetic is
    O(k·dim) on the driver. Nothing data-sized ever reaches the
    driver, so at 100 TB this is k×iters scans of a cached column —
    the same loop economics as Lloyd and PageRank.

    Rows-only: double summation order differs between engines and
    partitionings; the pinned test (tests/test_llm_and_approx.py)
    checks per-component |cos| ≥ 1−1e-9 against the identical
    deflated algorithm in numpy, pairwise orthogonality of the
    returned basis, and non-increasing eigenvalues. Returns one row
    per (component, dimension): (comp, dim, component, eigenvalue)."""
    import numpy as np

    base = _emb_double(spark, sf_dir).select("vec_id", "v")
    staged = stage(base, "pca_topk_emb")
    dim = len(staged.select("v").first()["v"])
    exploded = staged.select(F.posexplode("v").alias("d", "x"))
    mu_rows = (
        exploded.groupBy("d").agg(F.sum("x").alias("s"), F.count("*").alias("c"))
        .orderBy("d")
        .collect()
    )
    mu = np.array([r["s"] / r["c"] for r in mu_rows])
    n_rows = mu_rows[0]["c"]
    found: list[np.ndarray] = []
    eigenvalues: list[float] = []
    for j in range(PCA_TOPK):
        v = np.zeros(dim)
        v[j] = 1.0  # deterministic start, distinct per component
        for u in found:  # start orthogonal to the found subspace
            v -= (u @ v) * u
        v /= np.linalg.norm(v)
        ev = 0.0
        for _ in range(PCA_ITERATIONS):
            w = _pca_matvec(staged, mu, v)
            for u in found:  # deflation: project off found components
                w -= (u @ w) * u
            ev = float(np.linalg.norm(w)) / n_rows
            v = w / np.linalg.norm(w)
        nz = np.nonzero(v)[0]
        if len(nz) and v[nz[0]] < 0:
            v = -v
        found.append(v)
        eigenvalues.append(ev)
    rows = [
        (j, int(d), float(found[j][d]), float(eigenvalues[j]))
        for j in range(PCA_TOPK)
        for d in range(dim)
    ]
    return staged.sparkSession.createDataFrame(
        rows, "comp int, dim int, component double, eigenvalue double"
    )


emb_pca_topk.__doc__ = emb_pca_topk.__doc__.replace("{K}", str(PCA_TOPK))


# ---------- fixed-point portable power iteration (r14)

PCAFX_Q = 4096.0  # 2^12: quantization scale — power of two, so the
# double multiply is an exponent shift (IEEE-exact on both engines)
PCAFX_V = 1024  # 2^10: iterate magnitude after each rescale
PCAFX_ITERS = 8


def _pcafx_oracle() -> str:
    """Chained-MATERIALIZED-CTE restatement of the fixed-point power
    iteration: quantize (FLOOR(x·2^12), exact), floor-mean center
    (only non-negative integer divisions, so truncating and floor
    division agree on both engines), then {T} rounds of
    s = Cᵀ·v / w = C·s / v' = sign(w)·(|w|·2^10 // max|w|) — every
    operation integer-exact, so the final iterate hash-checks."""
    cte = [
        f"""e AS MATERIALIZED (
      SELECT vec_id, t.d,
             CAST(FLOOR(CAST(embedding[t.d + 1] AS DOUBLE) * {PCAFX_Q}) AS BIGINT) AS q
      FROM embeddings, range(64) t(d)
    )""",
        """mu AS MATERIALIZED (
      SELECT d, CAST(CASE WHEN s >= 0 THEN s // n
                          ELSE -((-s + n - 1) // n) END AS BIGINT) AS m
      FROM (SELECT d, SUM(q) AS s, COUNT(*) AS n FROM e GROUP BY 1)
    )""",
        """c AS MATERIALIZED (
      SELECT e.vec_id, e.d, e.q - mu.m AS cx FROM e JOIN mu USING (d)
    )""",
        f"""v0(d, val) AS MATERIALIZED (
      SELECT d, CASE WHEN d = 0 THEN {PCAFX_V} ELSE 0 END FROM range(64) t(d)
    )""",
    ]
    for t in range(PCAFX_ITERS):
        cte.append(
            f"""s{t} AS MATERIALIZED (
      SELECT c.vec_id, CAST(SUM(c.cx * v.val) AS BIGINT) AS s
      FROM c JOIN v{t} v ON c.d = v.d GROUP BY 1
    )"""
        )
        cte.append(
            f"""w{t} AS MATERIALIZED (
      SELECT c.d, CAST(SUM(c.cx * s.s) AS BIGINT) AS w
      FROM c JOIN s{t} s ON c.vec_id = s.vec_id GROUP BY 1
    )"""
        )
        cte.append(
            f"""v{t + 1}(d, val) AS MATERIALIZED (
      SELECT d, CAST(SIGN(w) AS BIGINT)
                * CAST((ABS(w) * {PCAFX_V})
                       // (SELECT MAX(ABS(w2.w)) FROM w{t} w2) AS BIGINT)
      FROM w{t}
    )"""
        )
    return (
        "WITH "
        + ",\n".join(cte)
        + f"""
    SELECT CAST(d AS INT) AS d, CAST(val AS BIGINT) AS component_fixed
    FROM v{PCAFX_ITERS} ORDER BY d"""
    )


@query("q_emb_pca_power_portable", oracle=_pcafx_oracle())
def emb_pca_power_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLE-EXACT top principal component (VERDICT r13 order #9 —
    the portable-discipline conversion of q_emb_pca_power's rows-only
    float iteration, following the q_agg_hll_portable playbook):
    embeddings quantize to integers by FLOOR(x·2^12) (the scale is a
    power of two, so the double multiply only shifts the exponent —
    bit-exact on both engines), centering subtracts the FLOOR-mean
    (integer division on non-negative operands only, where truncation
    and floor agree everywhere), and each of the 8 power rounds is
    pure int64 arithmetic: s = Cᵀv and w = Cs are integer sums (exact
    and order-free), and the normalization is the integer rescale
    v' = sign(w)·(|w|·2^10 // max|w|) instead of a float norm. Every
    engine computes the IDENTICAL integer iterate, so the driver
    hash-checks a result the float version could only cosine-pin —
    and the pinned test certifies the fixed-point direction agrees
    with the float power iteration (|cos| ≥ 0.999), so exactness was
    not bought with meaninglessness.

    Overflow discipline (documented bound, asserted in the pinned
    test): |cx| ≤ 2^13, |s| ≤ 64·2^13·2^10 < 2^29, |w| ≤ n·2^13·2^29,
    and the rescale multiplies by 2^10 — int64-safe through n ≈ 2^20
    rows; larger corpora lower PCAFX_V one bit per doubling (the
    lattice stays exact at any scale choice).

    Scale shape: identical to q_emb_pca_power — the quantized
    exploded relation is staged once and scanned 2×8 times; every
    reduce is a dim- or row-keyed integer SUM with map-side combine;
    only the 64-int iterate reaches the driver per round."""
    base = load(spark, sf_dir, "embeddings").select(
        "vec_id", to_double_array("embedding").alias("v")
    )
    q = stage(
        base.select(
            "vec_id",
            F.posexplode(
                F.transform(
                    "v", lambda x: F.floor(x * F.lit(PCAFX_Q)).cast("long")
                )
            ).alias("d", "q"),
        ),
        "pcafx_emb",
    )
    dim = 64
    mu_rows = (
        q.groupBy("d")
        .agg(F.sum("q").alias("s"), F.count(F.lit(1)).alias("n"))
        .orderBy("d")
        .collect()
    )
    # floor-mean in exact Python ints (// is floor division)
    mu = {r["d"]: r["s"] // r["n"] for r in mu_rows}
    mu_arr = F.array(*[F.lit(int(mu[d])) for d in range(dim)])
    c = stage(
        q.select(
            "vec_id",
            "d",
            (F.col("q") - F.element_at(mu_arr, F.col("d") + 1)).alias("cx"),
        ),
        "pcafx_c",
    )
    v = [PCAFX_V if d == 0 else 0 for d in range(dim)]
    for _ in range(PCAFX_ITERS):
        v_arr = F.array(*[F.lit(int(x)) for x in v])
        s = c.groupBy("vec_id").agg(
            F.sum(F.col("cx") * F.element_at(v_arr, F.col("d") + 1)).alias(
                "s"
            )
        )
        w_rows = (
            c.join(s, "vec_id")
            .groupBy("d")
            .agg(F.sum(F.col("cx") * F.col("s")).alias("w"))
            .collect()
        )
        w = {r["d"]: int(r["w"]) for r in w_rows}
        m = max(abs(x) for x in w.values())
        v = [
            (1 if w[d] >= 0 else -1) * (abs(w[d]) * PCAFX_V // m)
            for d in range(dim)
        ]
    return spark.createDataFrame(
        [(d, int(v[d])) for d in range(dim)],
        "d int, component_fixed long",
    )


_WIN_K = 3  # words per k-gram
_WIN_W = 4  # winnowing window (k-gram positions per window)


@query(
    "q_text_winnowing",
    oracle=f"""
    WITH grams AS (
      SELECT doc_id, i AS pos,
             substr(md5(array_to_string(
               list_slice(string_split(text, ' '), i, i + {_WIN_K} - 1), ' ')),
               1, 8) AS h
      FROM documents,
           unnest(generate_series(
             1, len(string_split(text, ' ')) - {_WIN_K} + 1)) AS g(i)
    ),
    mins AS (
      SELECT doc_id,
             MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                          ROWS BETWEEN {_WIN_W - 1} PRECEDING AND CURRENT ROW)
               AS mh,
             pos
      FROM grams
      QUALIFY pos >= {_WIN_W}
    )
    SELECT doc_id,
           CAST(COUNT(DISTINCT mh) AS BIGINT) AS n_fingerprints,
           md5(array_to_string(list_sort(list(DISTINCT mh)), '')) AS fp_digest
    FROM mins GROUP BY doc_id
    """,
)
def text_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (Schleimer/MOSS): hash every {3}-word
    k-gram (engine-portable 8-hex-char md5 prefix — ordered as strings
    identically everywhere), slide a {4}-position window, keep each
    window's minimum hash, and emit the distinct selected set per doc
    as a count + order-insensitive digest. The guarantee winnowing
    adds over plain shingling: any shared run of ≥ w+k-1 words between
    two documents shares at least one selected fingerprint, at ~1/w
    the fingerprint volume — the local-similarity primitive behind
    plagiarism/code-clone detection, complementing the global MinHash
    family. Cost: one shuffle on doc_id feeding the window AND the
    final per-doc aggregate (same partitioning); k-gram explode is
    map-side and bounded by document length."""
    d = load(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("w")
    )
    grams = d.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("w") - F.lit(_WIN_K - 1)),
                lambda i: F.struct(
                    i.alias("pos"),
                    F.substring(
                        F.md5(F.concat_ws(" ", F.slice("w", i, _WIN_K))), 1, 8
                    ).alias("h"),
                ),
            )
        ).alias("g"),
    ).select("doc_id", F.col("g.pos").alias("pos"), F.col("g.h").alias("h"))
    win = W.partitionBy("doc_id").orderBy("pos").rowsBetween(-(_WIN_W - 1), 0)
    mins = (
        grams.select("doc_id", "pos", F.min("h").over(win).alias("mh"))
        .filter(F.col("pos") >= _WIN_W)
    )
    return mins.groupBy("doc_id").agg(
        F.countDistinct("mh").alias("n_fingerprints"),
        F.md5(F.concat_ws("", F.sort_array(F.collect_set("mh")))).alias("fp_digest"),
    )


# ---- portable MinHash: the oracle-exact near-dup ESTIMATOR (r11)

MHP_K = 32  # permutations; estimate resolution 1/32
MHP_SEED = 2654435761  # per-permutation additive stride (Knuth)
MHP_MIN_MATCH = 16  # report pairs with >= 16/32 matching minhashes

# Cross-engine string->BIGINT hash: the first 15 hex chars of md5
# (60 bits, no sign/overflow surface), parsed per engine —
# Spark conv(hex,16,10), DuckDB CAST('0x'||hex AS BIGINT). UTF-8
# verified identical (md5 operates on bytes in both engines).
_MHP_H_SPARK = "CAST(conv(substring(md5(shingle),1,15),16,10) AS BIGINT)"
_MHP_H_DUCK = "CAST('0x' || substr(md5(shingle),1,15) AS BIGINT)"


def _mhp_perm_sql(xor: str, div: str, h: str) -> str:
    """Permutation-j hash of a shingle: lowbias32 over the 32-bit
    fold of (H + j·stride) — the portable-HLL mixer with the
    permutation index folded in additively (products stay < 2^63)."""
    from steaminganalysis_spark.operators.aggregates import _hllp_hash_sql

    return _hllp_hash_sql(xor, div, f"(({h}) % 4294967296) + j * {MHP_SEED}")


# Shared DuckDB CTE block for the portable sketches' shingle relation:
# distinct 3-gram word shingles with the _SHINGLE_DF_CAP skew guard
# replicated verbatim (same threshold, same key) so the estimates stay
# oracle-exact at every SF — the q_index_inverted precedent: cap in
# BOTH engines or in neither. Used by q_dedup_minhash_portable and
# q_dedup_simhash_portable.
_PORTABLE_SH_CTES = """
    toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    sh_raw AS (
      SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
      FROM toks, unnest(generate_series(1, len(t) - 2)) AS r(i)
    ),
    hot AS (
      SELECT shingle FROM sh_raw GROUP BY shingle HAVING COUNT(*) > {cap}
    ),
    sh AS MATERIALIZED (
      SELECT doc_id, shingle FROM sh_raw
      WHERE shingle NOT IN (SELECT shingle FROM hot)
    )"""


def _portable_capped_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of ``_PORTABLE_SH_CTES``: the staged, DF-capped
    distinct (doc_id, shingle) relation the portable MinHash and
    SimHash signatures are computed from. Raw STRING shingles (not the
    usual xxhash64 8-byte keys) because the cross-engine md5 hash must
    see identical bytes in both engines; the staged capped relation is
    read several times downstream (signatures, sizes, witnesses), so
    it is staged once more after the cap anti-join."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    toks = docs.select("doc_id", F.split("text", " ").alias("t"))
    raw = stage(
        toks.select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(0, size(t) - 3), "
                    "i -> concat_ws(' ', t[i], t[i+1], t[i+2]))"
                )
            ).alias("shingle"),
        )
        .filter(F.expr("size(t) >= 3"))
        .distinct(),
        "mhp_shingles",
    )
    # Skew guard (the family discipline of _shingle_hashes): a corpus-
    # boilerplate shingle in > _SHINGLE_DF_CAP docs forces the same
    # md5-derived minimum into every one of those signatures, pinning
    # one (j, mh) cell of the candidate equi-join at C² pairs.
    return stage(
        cap_document_frequency(
            raw, df_cap=_SHINGLE_DF_CAP, key_col="shingle"
        ),
        "mhp_shingles_capped",
    )


def _mhp_oracle() -> str:
    perm = _mhp_perm_sql("xor({a}, {b})", "//", _MHP_H_DUCK)
    return f"""
    WITH {_PORTABLE_SH_CTES.format(cap=_SHINGLE_DF_CAP)},
    sig AS MATERIALIZED (
      SELECT doc_id, j, MIN({perm}) AS mh
      FROM sh, unnest(generate_series(0, {MHP_K - 1})) AS p(j)
      GROUP BY 1, 2
    ),
    cand AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(COUNT(*) AS BIGINT) AS n_match
      FROM sig a JOIN sig b ON a.j = b.j AND a.mh = b.mh
                            AND a.doc_id < b.doc_id
      GROUP BY 1, 2
      HAVING COUNT(*) >= {MHP_MIN_MATCH}
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
    witness AS (
      SELECT c.doc_a, c.doc_b, c.n_match,
             CAST(COUNT(*) AS BIGINT) AS n_common
      FROM cand c
      JOIN sh x ON x.doc_id = c.doc_a
      JOIN sh y ON y.doc_id = c.doc_b AND y.shingle = x.shingle
      GROUP BY 1, 2, 3
    )
    SELECT w.doc_a, w.doc_b, w.n_match,
           (w.n_match * 1000000) // {MHP_K} AS est_ppm,
           (w.n_common * 1000000) // (sa.n + sb.n - w.n_common) AS jaccard_ppm
    FROM witness w
    JOIN sizes sa ON sa.doc_id = w.doc_a
    JOIN sizes sb ON sb.doc_id = w.doc_b
    ORDER BY w.doc_a, w.doc_b
    """


@query("q_dedup_minhash_portable", oracle=_mhp_oracle())
def dedup_minhash_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash near-duplicate detection with an ORACLE-EXACT estimate —
    the fourth portable sketch (HLL distincts, CMS frequencies,
    sampled quantiles, now MinHash similarity), and the hash-checked
    twin of rows-only ``q_dedup_near`` (whose xxhash64 signatures are
    engine-internal): every permutation hash is engine-portable
    integer SQL — the shingle string maps to a 60-bit integer via the
    first 15 hex chars of md5 (byte-identical in both engines), the
    permutation-j value is the portable-HLL lowbias32 mixer over
    (H + j·stride) mod 2^32, and the doc signature is 32 per-
    permutation MINs — so the driver hash-checks the similarity
    ESTIMATES themselves. Candidate pairs come from the signature
    equi-join (docs sharing any (j, minhash) cell — single-row LSH
    bands, never an all-pairs product); pairs with ≥ 16/32 matches are
    reported with est_ppm = matches/32 and, as the accuracy witness,
    the EXACT shingle-set Jaccard in ppm (the q_agg_hll_portable
    convention: the estimate and its ground truth in one row —
    |est − exact| bounded in tests).

    Scale shape: the shuffled signature state is K=32 rows per doc
    regardless of document size (per-permutation MIN is associative —
    map-side partial combine does real work); the candidate join is
    bucketed on the (j, mh) cell exactly like the LSH band join of
    q_dedup_near; the shingle table routes through the family's
    ``_SHINGLE_DF_CAP`` skew guard (replicated in the oracle CTE so
    the key stays oracle-exact at every SF — a boilerplate shingle in
    C docs would otherwise pin one (j, mh) cell at C² pairs); the
    exact-Jaccard witness touches only emitted pairs (semi-join
    against the candidate list) and is the column you drop at 100 TB. Reference parity: no dedup surface in the
    reference (SURVEY §2 B.9 extension)."""
    from steaminganalysis_spark.operators.aggregates import _hllp_hash_sql

    sh = _portable_capped_shingles(spark, sf_dir)
    perm = _mhp_perm_sql("({a} ^ {b})", "DIV", _MHP_H_SPARK)
    sig = (
        sh.select("doc_id", "shingle")
        .crossJoin(
            F.broadcast(
                spark.range(MHP_K).select(F.col("id").cast("int").alias("j"))
            )
        )
        .selectExpr("doc_id", "j", f"{perm} AS ph")
        .groupBy("doc_id", "j")
        .agg(F.min("ph").alias("mh"))
    )
    a, b = sig.alias("a"), sig.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.j") == F.col("b.j"))
            & (F.col("a.mh") == F.col("b.mh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").cast("long").alias("n_match"))
        .filter(F.col("n_match") >= MHP_MIN_MATCH)
        .localCheckpoint(eager=True)  # tiny pair list, read 2× below
    )
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    x, y = sh.alias("x"), sh.alias("y")
    witness = (
        cand.join(x, F.col("x.doc_id") == F.col("doc_a"))
        .join(
            y,
            (F.col("y.doc_id") == F.col("doc_b"))
            & (F.col("y.shingle") == F.col("x.shingle")),
        )
        .groupBy("doc_a", "doc_b", "n_match")
        .agg(F.count("*").cast("long").alias("n_common"))
    )
    # annotate the PAIR side by broadcasting IT (the witness pair list
    # is tiny); the per-doc sizes relation is O(N_docs) and must never
    # be the broadcast side at corpus scale (r12 — same fix as
    # q_dedup_simhash_portable's signature annotation)
    sa = sizes.selectExpr("doc_id AS _da", "n AS na")
    sb = sizes.selectExpr("doc_id AS _db", "n AS nb")
    j1 = sa.join(F.broadcast(witness), F.col("_da") == F.col("doc_a"))
    return (
        sb.join(F.broadcast(j1), F.col("_db") == F.col("doc_b"))
        .selectExpr(
            "doc_a",
            "doc_b",
            "n_match",
            f"(n_match * 1000000) DIV {MHP_K} AS est_ppm",
            "(n_common * 1000000) DIV (na + nb - n_common) AS jaccard_ppm",
        )
        .orderBy("doc_a", "doc_b")
    )


# ---- portable SimHash: the oracle-exact Hamming near-dup (r12)

SHP_BITS = 32  # signature width
SHP_BANDS = 4  # 4 bands x 8 bits: full recall for hamming <= 3
SHP_MAX_HAMMING = 6  # emission cut (band-probabilistic past 3)


def _shp_bit_hash(xor: str, div: str, h: str) -> str:
    """Per-shingle 32-bit hash whose bits are voted: lowbias32 over
    the 32-bit fold of the portable md5-derived shingle integer —
    the same mixer every portable sketch uses."""
    from steaminganalysis_spark.operators.aggregates import _hllp_hash_sql

    return _hllp_hash_sql(xor, div, f"(({h}) % 4294967296)")


def _shp_sig_sql(div: str) -> str:
    """Signature from the 32 per-bit vote counts: bit j is set when
    ones_j*2 >= n (majority with ties set — one deterministic integer
    rule, identical in both engines); the signature is the weighted
    sum of set bits. Expects columns ones_0..ones_31 and n in scope."""
    terms = [
        f"(CASE WHEN ones_{j} * 2 >= n THEN {1 << j} ELSE 0 END)"
        for j in range(SHP_BITS)
    ]
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


def _shp_ones_sql(div: str, hh: str) -> list[str]:
    """The 32 vote aggregates: ones_j = SUM(bit j of the shingle
    hash) — ONE pass over the shingle relation computes every bit
    column (no 32-way explode; the aggregate is a map-side partial
    combine of 32 longs per doc)."""
    return [
        f"SUM(({hh} {div} {1 << j}) % 2) AS ones_{j}" for j in range(SHP_BITS)
    ]


def _shp_oracle() -> str:
    hh = _shp_bit_hash("xor({a}, {b})", "//", _MHP_H_DUCK)
    ones = ",\n             ".join(_shp_ones_sql("//", "hh"))
    band = "(sig // {w}) % 256"
    bands = ", ".join(
        f"(sig // {1 << (8 * k)}) % 256 AS band_{k}" for k in range(SHP_BANDS)
    )
    return f"""
    WITH {_PORTABLE_SH_CTES.format(cap=_SHINGLE_DF_CAP)},
    hashed AS (SELECT doc_id, {hh} AS hh FROM sh),
    votes AS MATERIALIZED (
      SELECT doc_id, COUNT(*) AS n,
             {ones}
      FROM hashed GROUP BY 1
    ),
    sigs AS MATERIALIZED (
      SELECT doc_id, {_shp_sig_sql("//")} AS sig FROM votes
    ),
    banded AS (
      SELECT doc_id, k, (sig // CASE k WHEN 0 THEN 1 WHEN 1 THEN 256
                                 WHEN 2 THEN 65536 ELSE 16777216 END) % 256 AS bv
      FROM sigs, unnest(generate_series(0, {SHP_BANDS - 1})) AS p(k)
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM banded a JOIN banded b ON a.k = b.k AND a.bv = b.bv
                                 AND a.doc_id < b.doc_id
    )
    SELECT c.doc_a, c.doc_b,
           CAST(bit_count(xor(sa.sig, sb.sig)) AS BIGINT) AS hamming,
           sa.sig AS sig_a, sb.sig AS sig_b
    FROM cand c
    JOIN sigs sa ON sa.doc_id = c.doc_a
    JOIN sigs sb ON sb.doc_id = c.doc_b
    WHERE bit_count(xor(sa.sig, sb.sig)) <= {SHP_MAX_HAMMING}
    ORDER BY c.doc_a, c.doc_b
    """


@query("q_dedup_simhash_portable", oracle=_shp_oracle())
def dedup_simhash_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-duplicate detection with ORACLE-EXACT signatures —
    the fifth portable sketch (HLL, CMS, sampled quantiles, MinHash,
    now SimHash), converting the rows-only ``q_dedup_simhash`` family
    member (xxhash64 bit-votes, engine-internal) into a hash-checked
    key: every per-shingle bit hash is the portable md5->60-bit
    integer fed through the lowbias32 mixer, bit j of a doc's 32-bit
    signature is the majority vote of its shingles' bit j
    (ones*2 >= n, ties set — pure integer SQL), and the driver
    hash-checks the SIGNATURES and Hamming distances themselves.

    Candidate pairs come from a 4-band x 8-bit LSH split of the
    signature (docs sharing any band value): by pigeonhole, any pair
    at Hamming <= 3 differs in at most 3 bands, so at least one band
    matches — FULL recall inside the <=3 radius, probabilistic
    beyond it; the oracle replicates the identical band join, so both
    engines miss (and emit) exactly the same pairs and the key stays
    hash-exact at the <= {SHP_MAX_HAMMING} emission cut.

    Scale shape: the vote aggregate computes all 32 bit-columns in
    ONE pass over the capped shingle relation (32 longs of map-side
    combinable state per doc — no per-bit explode); signatures are
    one slim row per doc; the band self-join is the LSH-band
    discipline (single-row bands, never all-pairs) over 4 rows per
    doc; the shingle relation routes through ``_SHINGLE_DF_CAP`` in
    both engines. Brute-force recall pin and tie-rule determinism in
    tests/test_stateful_and_sketches.py. Reference parity: no dedup
    surface in the reference (SURVEY §2 B.9 extension)."""
    sh = _portable_capped_shingles(spark, sf_dir)
    hh = _shp_bit_hash("({a} ^ {b})", "DIV", _MHP_H_SPARK)
    votes = (
        sh.selectExpr("doc_id", f"{hh} AS hh")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n"),
            *[
                F.expr(f"SUM((hh DIV {1 << j}) % 2)").alias(f"ones_{j}")
                for j in range(SHP_BITS)
            ],
        )
    )
    sigs = votes.selectExpr(
        "doc_id", f"{_shp_sig_sql('DIV')} AS sig"
    ).localCheckpoint(eager=True)  # one slim row per doc, read 3x below
    banded = sigs.select(
        "doc_id",
        "sig",
        F.explode(F.array(*[F.lit(k) for k in range(SHP_BANDS)])).alias("k"),
    ).selectExpr("doc_id", "k", "(sig DIV CAST(pow(256, k) AS BIGINT)) % 256 AS bv")
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.k") == F.col("b.k"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    # annotate the PAIR side by broadcasting IT (the near-dup pair
    # list is tiny); the per-doc signature relation is O(N_docs) and
    # must never be the broadcast side at corpus scale
    sa = sigs.selectExpr("doc_id AS _da", "sig AS sig_a")
    sb = sigs.selectExpr("doc_id AS _db", "sig AS sig_b")
    j1 = sa.join(F.broadcast(cand), F.col("_da") == F.col("doc_a"))
    return (
        sb.join(F.broadcast(j1), F.col("_db") == F.col("doc_b"))
        .selectExpr(
            "doc_a",
            "doc_b",
            "CAST(bit_count(sig_a ^ sig_b) AS BIGINT) AS hamming",
            "sig_a",
            "sig_b",
        )
        .filter(F.col("hamming") <= SHP_MAX_HAMMING)
        .orderBy("doc_a", "doc_b")
    )
