"""Similarity-search queries over the embeddings table (array<float>)."""

from __future__ import annotations

from pyspark.sql import functions as F

from variantcalling_spark.operators.similarity import (
    QUANT,
    _quantize,
    banded_near_dup_pairs,
    cosine_near_dup_pairs,
    cosine_topk,
    lsh_cosine_topk,
)
from variantcalling_spark.queries import query
from variantcalling_spark.queries._helpers import cnt, managed_persist
from variantcalling_spark.sources import load_table
from variantcalling_spark._persist import lineage_cut

# Augmented embedding corpus with known near-duplicates (the driver
# corpus is near-random: max pairwise cosine ~0.51). Both engines build
# it identically in integer space: exact copies of every 20th vector
# (+200000 ids) and per-component rescales s_i = 10 + (vec_id+i)%7 - 3
# in {7..13} of every 10th vector (+100000 ids, cosine ~0.97-0.98).
# Integer scaling keeps every dot product order-independent and exact.
NEARDUP_SQL_CORPUS = f"""
  WITH q AS (
    SELECT vec_id,
           list_transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * {QUANT}) AS BIGINT)) AS qv
    FROM embeddings
  )
  SELECT vec_id, qv AS v FROM q
  UNION ALL
  SELECT vec_id + 200000 AS vec_id, qv AS v FROM q WHERE vec_id % 20 = 0
  UNION ALL
  SELECT vec_id + 100000 AS vec_id,
         [qv[i] * (10 + (vec_id + i - 1) % 7 - 3)
          for i in generate_series(1, len(qv))] AS v
  FROM q WHERE vec_id % 10 = 0
"""


def neardup_corpus(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.select("vec_id", _quantize(F.col("embedding")).alias("qv"))
    exact = q.where(F.col("vec_id") % 20 == 0).select(
        (F.col("vec_id") + 200000).alias("vec_id"), F.col("qv")
    )
    # perturb BEFORE re-aliasing the id: an `F.col("vec_id")` outer
    # reference inside the lambda binds to the select's OUTPUT column,
    # so `vec_id + 100000 AS vec_id` in the same select would feed the
    # shifted id into the scale factors
    near = (
        q.where(F.col("vec_id") % 10 == 0)
        .select(
            "vec_id",
            F.transform(
                "qv", lambda x, i: x * (10 + (F.col("vec_id") + i) % 7 - 3)
            ).alias("qv"),
        )
        .select((F.col("vec_id") + 100000).alias("vec_id"), "qv")
    )
    return q.unionByName(exact).unionByName(near).withColumnRenamed("qv", "v")


@query(
    "q68_cosine_topk",
    oracle=f"""
WITH q AS (
  SELECT vec_id AS query_id,
         list_transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * {QUANT}) AS BIGINT)) AS qv
  FROM embeddings WHERE vec_id < 5
),
c AS (
  SELECT vec_id AS cand_id,
         list_transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * {QUANT}) AS BIGINT)) AS cv
  FROM embeddings
),
scored AS (
  SELECT query_id, cand_id,
         list_dot_product(qv, cv)
           / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS cosine
  FROM q, c WHERE query_id <> cand_id
)
SELECT query_id, cand_id, cosine, rank FROM (
  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, cand_id) AS INT) AS rank
  FROM scored
) WHERE rank <= 3
""",
)
def q68_cosine_topk(spark, sf_dir):
    """Brute-force exact cosine top-k over the embedding column.

    The ANN baseline: broadcast the query set, score all candidates with
    integer-quantized dot products (order-independent => engine-exact),
    rank per query with id tie-break. The candidate table never shuffles.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5)
    return cosine_topk(queries, emb, k=3)


@query(
    "q73_embedding_neardup",
    oracle=f"""
WITH corpus AS ({NEARDUP_SQL_CORPUS})
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       list_dot_product(a.v, b.v)
         / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS cosine
FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
WHERE list_dot_product(a.v, b.v)
        / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.9
""",
)
def q73_embedding_neardup(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs (threshold 0.9), exact
    all-pairs baseline: integer-quantized dot products make both engines
    bit-identical. The O(n^2) oracle for the banded discovery path (q74),
    same shape as exact-Jaccard (q65) vs MinHash-LSH (q66).

    The corpus is persisted: the self-join reads it on both sides, and
    without a persist each side re-runs the quantize/augment subtree
    (a broadcast join has no exchange for ReuseExchange to match)."""
    return cosine_near_dup_pairs(
        neardup_corpus(spark, sf_dir).transform(managed_persist), threshold=0.9
    )


def _neardup_lsh_oracle_sql(n_planes: int = 32, n_bands: int = 4, dim: int = 64) -> str:
    """The banded-hyperplane near-dup pipeline in DuckDB SQL. The plane
    matrix is a deterministic ±1 literal (operators/similarity.py::
    _plane_signs) and the vectors are quantized integers, so projection
    sums are integer-valued doubles — exact on both engines regardless
    of summation order — and the whole discovery+verify path gets a
    strong value oracle (driver testdata embeddings are all dim 64)."""
    from variantcalling_spark.operators.similarity import _plane_signs

    signs = _plane_signs(n_planes, dim)  # [dim][n_planes]
    bits_per_band = n_planes // n_bands

    def plane_vec(p):
        return "[" + ",".join(f"{signs[d][p]:.1f}" for d in range(dim)) + "]"

    sums = ",\n         ".join(
        f"list_dot_product(vd, {plane_vec(p)}) AS s{p}" for p in range(n_planes)
    )

    def bucket_expr(b):
        return " + ".join(
            f"(CASE WHEN s{b * bits_per_band + j} > 0 THEN {2**j} ELSE 0 END)"
            for j in range(bits_per_band)
        )

    band_selects = "\n  UNION ALL\n".join(
        f"  SELECT vec_id, v, {b} AS band, {bucket_expr(b)} AS bucket FROM sig"
        for b in range(n_bands)
    )
    return f"""
WITH corpus AS ({NEARDUP_SQL_CORPUS}),
sig AS (
  SELECT vec_id, v,
         {sums}
  FROM (SELECT vec_id, v, list_transform(v, x -> CAST(x AS DOUBLE)) AS vd FROM corpus)
),
bands AS (
{band_selects}
),
scored AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         list_dot_product(a.v, b.v)
           / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS cosine
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id
)
SELECT DISTINCT id_a, id_b, cosine FROM scored WHERE cosine >= 0.9
"""


@query("q74_embedding_neardup_lsh", oracle=_neardup_lsh_oracle_sql())
def q74_embedding_neardup_lsh(spark, sf_dir):
    """Embedding-cosine near-dup discovery at scale: 32 random-hyperplane
    sign bits -> 4 banded 8-bit bucket self-joins -> exact cosine verify
    of candidates only (vectors ride the band join; one corpus scan,
    signatures computed once behind a persist). Multi-band collisions
    are deduped BEFORE scoring via the first-colliding-band filter (a
    codegen predicate over the carried slice arrays), so each candidate
    pair is cosine-scored exactly once and no distinct() re-shuffle
    follows. Linear discovery cost (no all-pairs pass); precision exact
    by construction, recall vs q73 pinned in
    tests/test_dedup_similarity.py.

    Corpus persisted for the same both-sides-of-a-self-join reason as
    q73 (and the identical plan means q73/q74 share one cache entry)."""
    return banded_near_dup_pairs(
        neardup_corpus(spark, sf_dir).transform(managed_persist), threshold=0.9, n_planes=32, n_bands=4
    )


@query(
    "q112_embedding_neardup_lsh_wide",
    oracle=_neardup_lsh_oracle_sql(n_planes=64, n_bands=4),
)
def q112_embedding_neardup_lsh_wide(spark, sf_dir):
    """q74 with the band-width dial turned for a larger corpus: 64
    planes -> 4 x 16-bit bands. Random pairs collide per band at
    ~1/2^16 instead of ~1/2^8, so the verify set stays linear as the
    corpus grows (the production setting is bits ~ log2 n + c; q74's
    8-bit bands are the small-corpus point of the same operator).
    Trade-off made explicit: recall for borderline-0.9 pairs drops
    (p^16 per band) while exact/near-exact duplicates still collide in
    every band — and precision stays exact because every emitted pair
    is re-scored. The oracle recomputes the identical 64-plane banding
    in SQL, so the wide configuration is value-proven end-to-end, and
    bench.py's scale2 runs it at 10x to demonstrate the linear
    behavior."""
    return banded_near_dup_pairs(
        neardup_corpus(spark, sf_dir).transform(managed_persist), threshold=0.9, n_planes=64, n_bands=4
    )


@query(
    "q129_adaptive_neardup",
    oracle=_neardup_lsh_oracle_sql(n_planes=48, n_bands=4),
)
def q129_adaptive_neardup(spark, sf_dir):
    """The band-width dial on autopilot: ``adaptive_banded_near_dup_pairs``
    picks bits = max(8, ceil(log2 n) + 2) from the corpus row count, so
    the random-collision candidate set stays ~n/4 per band at ANY corpus
    size — q74 (8-bit) and q112 (16-bit) are two fixed points of this one
    rule. The sf0.01 oracle corpus is 575 vectors -> 12-bit bands ->
    48 planes, and the oracle recomputes that exact 48-plane banding in
    SQL, so the adaptive path is value-proven end-to-end at the driver's
    scale factor. bench.py's scale2 runs this query at 10x, where the
    rule lands on 17-bit bands and the runtime stays linear (the fixed
    8-bit q74 goes superlinear there by construction — that contrast is
    the point)."""
    from variantcalling_spark.operators.similarity import (
        adaptive_banded_near_dup_pairs,
    )

    return adaptive_banded_near_dup_pairs(
        neardup_corpus(spark, sf_dir).transform(managed_persist), threshold=0.9, n_bands=4
    )


def _lsh_ann_oracle_sql(n_planes: int = 16, prefix_bits: int = 6, dim: int = 64, k: int = 3) -> str:
    """LSH-bucketed ANN in DuckDB SQL: only the ``prefix_bits`` planes
    that form the bucket key need computing; signatures over quantized
    vectors are integer-valued doubles, hence engine-exact."""
    from variantcalling_spark.operators.similarity import _plane_signs

    signs = _plane_signs(n_planes, dim)

    def plane_vec(p):
        return "[" + ",".join(f"{signs[d][p]:.1f}" for d in range(dim)) + "]"

    sums = ",\n         ".join(
        f"list_dot_product(vd, {plane_vec(p)}) AS s{p}" for p in range(prefix_bits)
    )
    bucket = " + ".join(
        f"(CASE WHEN s{p} > 0 THEN {2**p} ELSE 0 END)" for p in range(prefix_bits)
    )
    return f"""
WITH base AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * {QUANT}) AS BIGINT)) AS v
  FROM embeddings
),
sig AS (
  SELECT vec_id, v,
         {sums}
  FROM (SELECT vec_id, v, list_transform(v, x -> CAST(x AS DOUBLE)) AS vd FROM base)
),
bk AS (SELECT vec_id, v, {bucket} AS bucket FROM sig),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
         list_dot_product(q.v, c.v)
           / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))) AS cosine
  FROM bk q JOIN bk c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
  WHERE q.vec_id < 5
)
SELECT query_id, cand_id, cosine, rank FROM (
  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, cand_id) AS INT) AS rank
  FROM scored
) WHERE rank <= {k}
"""


def _knn_graph_oracle_sql(prefix_bits: int = 6, dim: int = 64, k: int = 3) -> str:
    """q69's bucket computation without the query filter: the whole
    corpus ranks its in-bucket neighbors."""
    from variantcalling_spark.operators.similarity import _plane_signs

    signs = _plane_signs(prefix_bits, dim)

    def plane_vec(p):
        return "[" + ",".join(f"{signs[d][p]:.1f}" for d in range(dim)) + "]"

    sums = ",\n         ".join(
        f"list_dot_product(vd, {plane_vec(p)}) AS s{p}" for p in range(prefix_bits)
    )
    bucket = " + ".join(
        f"(CASE WHEN s{p} > 0 THEN {2**p} ELSE 0 END)" for p in range(prefix_bits)
    )
    return f"""
WITH base AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * {QUANT}) AS BIGINT)) AS v
  FROM embeddings
),
sig AS (
  SELECT vec_id, v,
         {sums}
  FROM (SELECT vec_id, v, list_transform(v, x -> CAST(x AS DOUBLE)) AS vd FROM base)
),
bk AS (SELECT vec_id, v, {bucket} AS bucket FROM sig),
scored AS (
  SELECT a.vec_id AS vec_id, c.vec_id AS neighbor_id,
         list_dot_product(a.v, c.v)
           / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(c.v, c.v))) AS cosine
  FROM bk a JOIN bk c ON a.bucket = c.bucket AND a.vec_id <> c.vec_id
)
SELECT vec_id, neighbor_id, cosine, rank FROM (
  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
  FROM scored
) WHERE rank <= {k}
"""


@query("q132_knn_graph", oracle=_knn_graph_oracle_sql())
def q132_knn_graph(spark, sf_dir):
    """Corpus-wide kNN graph (every vector's top-3 in-bucket cosine
    neighbors) — the primitive under SemDeDup/D4 semantic curation and
    graph-based diversity filtering; q69 answers point lookups, this
    builds the whole graph in one bucketed self-join with no broadcast
    of either side. Buckets, cosines, and ranks are engine-exact
    (quantized integer projections + full tie-break), so the complete
    graph is value-checked against the identical SQL."""
    return _knn3_fixed6(spark, sf_dir)


@query("q69_lsh_ann", oracle=_lsh_ann_oracle_sql())
def q69_lsh_ann(spark, sf_dir):
    """Approximate cosine top-k via random-hyperplane LSH bucketing +
    exact rerank within buckets — the linear-scaling ANN path. Quantized
    projections make buckets engine-exact -> full value oracle (recall
    vs the exact baseline also measured in tests/test_dedup_similarity.py)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5)
    return lsh_cosine_topk(queries, emb, k=3, n_planes=16, prefix_bits=6)


@query(
    "q71_ivf_ann",
    oracle="""
SELECT * FROM (VALUES
  (CAST(0 AS BIGINT), CAST(7 AS BIGINT), CAST(0.29284215147436643 AS DOUBLE), CAST(3 AS INT)),
  (CAST(0 AS BIGINT), CAST(365 AS BIGINT), CAST(0.3699935965460897 AS DOUBLE), CAST(1 AS INT)),
  (CAST(0 AS BIGINT), CAST(423 AS BIGINT), CAST(0.2969335986409863 AS DOUBLE), CAST(2 AS INT)),
  (CAST(1 AS BIGINT), CAST(27 AS BIGINT), CAST(0.3482081864636984 AS DOUBLE), CAST(2 AS INT)),
  (CAST(1 AS BIGINT), CAST(386 AS BIGINT), CAST(0.37148454183744223 AS DOUBLE), CAST(1 AS INT)),
  (CAST(1 AS BIGINT), CAST(407 AS BIGINT), CAST(0.3270099496117245 AS DOUBLE), CAST(3 AS INT)),
  (CAST(2 AS BIGINT), CAST(117 AS BIGINT), CAST(0.318142564237661 AS DOUBLE), CAST(1 AS INT)),
  (CAST(2 AS BIGINT), CAST(145 AS BIGINT), CAST(0.26349429911567107 AS DOUBLE), CAST(2 AS INT)),
  (CAST(2 AS BIGINT), CAST(188 AS BIGINT), CAST(0.263272104561668 AS DOUBLE), CAST(3 AS INT)),
  (CAST(3 AS BIGINT), CAST(174 AS BIGINT), CAST(0.30354804540607316 AS DOUBLE), CAST(1 AS INT)),
  (CAST(3 AS BIGINT), CAST(207 AS BIGINT), CAST(0.29170184705661967 AS DOUBLE), CAST(2 AS INT)),
  (CAST(3 AS BIGINT), CAST(315 AS BIGINT), CAST(0.285191968671821 AS DOUBLE), CAST(3 AS INT)),
  (CAST(4 AS BIGINT), CAST(280 AS BIGINT), CAST(0.27982608680315935 AS DOUBLE), CAST(3 AS INT)),
  (CAST(4 AS BIGINT), CAST(482 AS BIGINT), CAST(0.31389702932135605 AS DOUBLE), CAST(2 AS INT)),
  (CAST(4 AS BIGINT), CAST(496 AS BIGINT), CAST(0.34121178056570023 AS DOUBLE), CAST(1 AS INT))
) AS t(query_id, cand_id, cosine, rank)
""",
)
def q71_ivf_ann(spark, sf_dir):
    """IVF approximate nearest neighbors: Spark ML KMeans coarse
    quantizer -> cell assignment -> nprobe-cell exact cosine rerank.
    The classic disk-friendly ANN layout (cells are partition-prunable
    at 100 TB). Iterative KMeans training is non-SQL, but with a fixed
    seed the routing is reproducible and the per-pair cosines are
    sequential per-row folds (no shuffle-order dependence), so the
    sf0.01 result is pinned as a literal VALUES oracle (verified
    identical on local[8] and local[32]); recall vs the exact baseline
    is additionally pinned in tests.

    Pinning assumption: the literal values bake in this image's Spark ML
    build (Spark 4.1 KMeans, its BLAS backend, treeAggregate combine
    order). An engine upgrade could legitimately move centroids and
    spuriously fail this oracle — re-pin on upgrade; the tolerance-based
    recall test in tests/test_dedup_similarity.py is the
    version-portable check."""
    from variantcalling_spark.operators.similarity import ivf_cosine_topk, ivf_index

    emb = load_table(spark, sf_dir, "embeddings")
    centroids, indexed = ivf_index(emb, n_centroids=8)
    queries = emb.where(F.col("vec_id") < 5)
    return ivf_cosine_topk(queries, indexed, centroids, k=3, nprobe=3)


@query(
    "q108_semantic_dedup",
    oracle="""
SELECT * FROM (VALUES
  (0, CAST(23 AS BIGINT), CAST(0 AS BIGINT)),
  (1, CAST(1 AS BIGINT), CAST(0 AS BIGINT)),
  (2, CAST(1 AS BIGINT), CAST(0 AS BIGINT)),
  (3, CAST(546 AS BIGINT), CAST(46 AS BIGINT)),
  (4, CAST(1 AS BIGINT), CAST(0 AS BIGINT)),
  (5, CAST(1 AS BIGINT), CAST(0 AS BIGINT)),
  (6, CAST(1 AS BIGINT), CAST(0 AS BIGINT)),
  (7, CAST(1 AS BIGINT), CAST(0 AS BIGINT))
) AS t(centroid_id, n_vectors, n_dropped)
""",
)
def q108_semantic_dedup(spark, sf_dir):
    """SemDeDup-style semantic deduplication (the embedding-space
    counterpart of q64/q66): KMeans coarse clusters (ivf_index) ->
    within-cluster exact-cosine pruning, dropping every vector with
    cosine >= 0.9 to a lower-id cluster-mate — deterministic keep-min-id
    in one pass. Pair generation is an equi-join on centroid_id, so cost
    is sum(cluster^2), never corpus^2. Runs on the near-dup-augmented
    corpus so there is ground truth to drop; per-cluster survivor stats
    out. Seeded KMeans routing is reproducible (verified identical on
    local[8]/local[32], the q71 pattern), so the sf0.01 result is
    pinned as a literal VALUES oracle — same Spark-ML-build pinning
    assumption as q71 (re-pin on engine upgrade; the tolerance-based
    tests are the portable check)."""
    from variantcalling_spark.operators.similarity import (
        ivf_index,
        semantic_dedup_flags,
    )

    corpus = neardup_corpus(spark, sf_dir)
    centroids, indexed = ivf_index(corpus, n_centroids=8, vec_col="v")
    flags = semantic_dedup_flags(indexed, threshold=0.9, vec_col="v")
    return (
        flags.groupBy("centroid_id")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.sum(F.col("is_dropped").cast("long")).alias("n_dropped"),
        )
        .orderBy("centroid_id")
    )


@query(
    "q121_pq_ann",
    oracle="""
SELECT * FROM (VALUES
  (CAST(0 AS BIGINT), CAST(312 AS BIGINT), CAST(0.990305965 AS DOUBLE), CAST(1 AS INT)),
  (CAST(0 AS BIGINT), CAST(415 AS BIGINT), CAST(0.990496168 AS DOUBLE), CAST(2 AS INT)),
  (CAST(0 AS BIGINT), CAST(345 AS BIGINT), CAST(0.996916473 AS DOUBLE), CAST(3 AS INT)),
  (CAST(1 AS BIGINT), CAST(27 AS BIGINT), CAST(0.93565571 AS DOUBLE), CAST(1 AS INT)),
  (CAST(1 AS BIGINT), CAST(64 AS BIGINT), CAST(0.960445469 AS DOUBLE), CAST(2 AS INT)),
  (CAST(1 AS BIGINT), CAST(407 AS BIGINT), CAST(0.97110215 AS DOUBLE), CAST(3 AS INT)),
  (CAST(2 AS BIGINT), CAST(450 AS BIGINT), CAST(0.999031592 AS DOUBLE), CAST(1 AS INT)),
  (CAST(2 AS BIGINT), CAST(276 AS BIGINT), CAST(1.005860024 AS DOUBLE), CAST(2 AS INT)),
  (CAST(2 AS BIGINT), CAST(182 AS BIGINT), CAST(1.027639099 AS DOUBLE), CAST(3 AS INT)),
  (CAST(3 AS BIGINT), CAST(192 AS BIGINT), CAST(1.006017448 AS DOUBLE), CAST(1 AS INT)),
  (CAST(3 AS BIGINT), CAST(98 AS BIGINT), CAST(1.038289666 AS DOUBLE), CAST(2 AS INT)),
  (CAST(3 AS BIGINT), CAST(205 AS BIGINT), CAST(1.054115172 AS DOUBLE), CAST(3 AS INT)),
  (CAST(4 AS BIGINT), CAST(482 AS BIGINT), CAST(0.913918602 AS DOUBLE), CAST(1 AS INT)),
  (CAST(4 AS BIGINT), CAST(114 AS BIGINT), CAST(0.922699377 AS DOUBLE), CAST(2 AS INT)),
  (CAST(4 AS BIGINT), CAST(496 AS BIGINT), CAST(0.993902257 AS DOUBLE), CAST(3 AS INT))
) AS t(query_id, cand_id, adc_dist2, rank)
""",
)
def q121_pq_ann(spark, sf_dir):
    """Product-quantization ANN (Jegou et al. 2011): per-subspace
    codebooks (m=8 x 16 codes on unit-normalized vectors), corpus
    encoded to 8 bytes/vector, asymmetric-distance search via a
    broadcast lookup table — the memory-compression ANN path next to
    IVF's cell pruning (q71): at 10^9 docs the code table is ~8 GB
    total and scans at memory bandwidth with no float vector touched.

    Unlike q71's Spark ML fit, training is the engine's own shared
    Lloyd's loop (`operators/similarity.py::pq_index`): all m codebooks
    in one distributed pass per iteration, deterministic md5-order
    init, DECIMAL centroid means and struct-MIN assignment — every step
    order-independent, so the pinned VALUES oracle depends only on this
    engine's arithmetic, not on a Spark ML / BLAS build. ADC partial
    distances also sum in DECIMAL, so ranking is partition-count
    independent. Version-portable checks (recall on clustered data,
    determinism, lossless-codebook exactness) live in
    tests/test_dedup_similarity.py."""
    from variantcalling_spark.operators.similarity import pq_adc_topk, pq_index

    emb = load_table(spark, sf_dir, "embeddings")
    codebooks, codes = _pq_codes_8x16(spark, sf_dir)
    queries = emb.where(F.col("vec_id") < 5)
    return pq_adc_topk(queries, codes, codebooks, k=3, m=8)


@query(
    "q128_hard_negative_mining",
    oracle=f"""
WITH q AS (
  SELECT vec_id AS query_id, label AS qlabel,
         list_transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * {QUANT}) AS BIGINT)) AS qv
  FROM embeddings WHERE vec_id < 10
),
c AS (
  SELECT vec_id AS cand_id, label AS clabel,
         list_transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * {QUANT}) AS BIGINT)) AS cv
  FROM embeddings
),
scored AS (
  SELECT query_id, cand_id,
         list_dot_product(qv, cv)
           / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS cosine
  FROM q, c WHERE query_id <> cand_id AND qlabel <> clabel
)
SELECT query_id, cand_id, cosine, rank FROM (
  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, cand_id) AS INT) AS rank
  FROM scored
) WHERE rank <= 3
""",
)
def q128_hard_negative_mining(spark, sf_dir):
    """Hard-negative mining for contrastive embedding training: per
    anchor, the most-similar candidates carrying a DIFFERENT class
    label — the negatives that actually move a contrastive loss, vs the
    uninformative random negatives in-batch sampling yields. Same
    broadcast-anchors plan as the cosine baseline (candidate scan never
    shuffles; the label inequality prunes pairs before scoring), with
    the Arrow-vectorized quantized-integer cosine kernel, so the whole
    ranking is engine-exact. At 10^9 candidates this composes with the
    ANN paths (q69/q71/q121) — score only bucket/cell survivors, then
    apply the same different-label filter."""
    from variantcalling_spark.operators.similarity import _cosine_arrow, _quantize
    from pyspark.sql import Window as W

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("qlabel"),
        _quantize(F.col("embedding")).alias("qv"),
    )
    c = emb.select(
        F.col("vec_id").alias("cand_id"),
        F.col("label").alias("clabel"),
        _quantize(F.col("embedding")).alias("cv"),
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .where(
            (F.col("query_id") != F.col("cand_id"))
            & (F.col("qlabel") != F.col("clabel"))
        )
        .select(
            "query_id",
            "cand_id",
            _cosine_arrow()(F.col("qv"), F.col("cv")).alias("cosine"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), "cand_id")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= 3)
        .select("query_id", "cand_id", "cosine", "rank")
    )


PR_SCALE = 1_000_000_000_000  # fixed-point 1e12: rank mass as bigint
PR_ITERS = 3


def _pagerank_oracle_sql() -> str:
    knn = _knn_graph_oracle_sql()
    parts = [
        f"""
WITH knn AS (SELECT * FROM ({knn}) q0),
edges AS (SELECT vec_id AS src, neighbor_id AS dst FROM knn),
nodes AS MATERIALIZED (SELECT vec_id AS node FROM embeddings),
nn AS (SELECT COUNT(*) AS n FROM nodes),
outdeg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
r0 AS (
  SELECT node, CAST({PR_SCALE} // (SELECT n FROM nn) AS BIGINT) AS r
  FROM nodes
)"""
    ]
    prev = "r0"
    for i in range(1, PR_ITERS + 1):
        parts.append(
            f""",
it{i} AS (
  SELECT e.dst AS node, SUM({prev}.r // o.deg) AS s
  FROM edges e JOIN {prev} ON {prev}.node = e.src
  JOIN outdeg o ON o.src = e.src
  GROUP BY e.dst
),
r{i} AS (
  SELECT n.node,
         CAST((15 * {PR_SCALE}) // (100 * (SELECT n FROM nn))
              + (85 * COALESCE(it{i}.s, 0)) // 100 AS BIGINT) AS r
  FROM nodes n LEFT JOIN it{i} USING (node)
)"""
        )
        prev = f"r{i}"
    parts.append(
        f"""
SELECT node, rank_scaled, rk FROM (
  SELECT node, r AS rank_scaled,
         CAST(ROW_NUMBER() OVER (ORDER BY r DESC, node) AS INT) AS rk
  FROM {prev}
) WHERE rk <= 20
"""
    )
    return "".join(parts)


@query("q144_knn_pagerank", oracle=_pagerank_oracle_sql())
def q144_knn_pagerank(spark, sf_dir):
    """Centrality-weighted data selection: PageRank over the corpus kNN
    graph (the D4/SemDeDup substrate) surfaces the most-central
    embeddings — the documents whose neighborhoods are densest, the
    natural keep-set of a diversity-aware curation pass. An ITERATIVE
    distributed algorithm carried to a full value oracle: rank mass
    lives in fixed-point bigints (scale 1e12) with floor-division
    damping, so every iteration is integer-exact and order-independent
    — the oracle unrolls the same {PR_ITERS} iterations as SQL CTEs.
    Plan: per iteration one equi-join of edges to ranks + one
    map-side-combinable SUM; the edge table partitioning is reused
    across iterations; no collect until the final top-20. The graph
    substrate is the ADAPTIVE-bits variant (q146), which lands on the
    oracle's 6-bit configuration at sf0.01 and keeps the pair count
    linear at any corpus size."""
    from variantcalling_spark.operators.similarity import adaptive_knn_graph

    emb = load_table(spark, sf_dir, "embeddings")
    edges = (
        _knn3_adaptive(spark, sf_dir)
        .select(F.col("vec_id").alias("src"), F.col("neighbor_id").alias("dst"))
        .transform(managed_persist)
    )
    nodes = emb.select(F.col("vec_id").alias("node"))
    nn = nodes.agg(F.count(F.lit(1)).alias("n"))
    outdeg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    ranks = nodes.crossJoin(F.broadcast(nn)).select(
        "node", F.expr(f"CAST({PR_SCALE} AS BIGINT) DIV n").alias("r")
    )
    for _ in range(PR_ITERS):
        contrib = (
            edges.join(ranks.withColumnRenamed("node", "src"), "src")
            .join(outdeg, "src")
            .select(
                F.col("dst").alias("node"),
                F.expr("r DIV deg").alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("s"))
        )
        ranks = (
            nodes.join(contrib, "node", "left")
            .crossJoin(F.broadcast(nn))
            .select(
                "node",
                (
                    F.expr(f"CAST(15 * {PR_SCALE} AS BIGINT) DIV (100 * n)")
                    + F.expr("85 * COALESCE(s, CAST(0 AS BIGINT)) DIV 100")
                ).cast("bigint").alias("r"),
            )
        )
    from pyspark.sql import Window as W2

    # top-20 via orderBy+limit (TakeOrdered: per-partition heaps, scale-
    # safe) FIRST; the row_number window then ranks only 20 rows — a
    # global window over the full ranks table would single-partition it
    top = ranks.orderBy(F.col("r").desc(), "node").limit(20)
    return top.select(
        "node",
        F.col("r").alias("rank_scaled"),
        F.row_number()
        .over(W2.orderBy(F.col("r").desc(), "node"))
        .cast("int")
        .alias("rk"),
    )


@query("q146_adaptive_knn_graph", oracle=_knn_graph_oracle_sql())
def q146_adaptive_knn_graph(spark, sf_dir):
    """q132's corpus kNN graph with the bucket dial on AUTOPILOT
    (the q129-for-q74 pattern applied to the graph substrate):
    prefix_bits = max(4, ceil(log2(n / 9))) from the corpus row count,
    so expected bucket occupancy — and with it the in-bucket pair count
    per vector — is constant at any corpus size: 10x the data means
    ~10x the pairs, where the fixed-bits graph pays ~100x. At sf0.01
    (575 vectors) the rule lands on exactly 6 bits — q132's oracle
    configuration — so the adaptive path is value-proven end-to-end
    through the identical SQL; bench.py's scale2 runs this variant at
    10x (1024 buckets) to demonstrate the linear behavior."""
    return _knn3_adaptive(spark, sf_dir)


LPA_ITERS = 3


def _lpa_cte_sql() -> str:
    """Shared CTE chain: symmetrized kNN edges + LPA_ITERS rounds of
    synchronous majority label propagation, fully deterministic
    (argmax by count with min-label tie-break; isolated nodes keep
    their label). Ends with a ``communities(node, community)`` CTE."""
    knn = _knn_graph_oracle_sql()
    parts = [
        f"""
WITH knn AS (SELECT * FROM ({knn}) q0),
e0 AS MATERIALIZED (SELECT vec_id AS src, neighbor_id AS dst FROM knn),
edges AS MATERIALIZED (
  SELECT DISTINCT src, dst FROM (
    SELECT src, dst FROM e0 UNION ALL SELECT dst AS src, src AS dst FROM e0
  )
),
nodes AS MATERIALIZED (SELECT vec_id AS node FROM embeddings),
l0 AS (SELECT node, node AS label FROM nodes)"""
    ]
    prev = "l0"
    for i in range(1, LPA_ITERS + 1):
        parts.append(
            f""",
c{i} AS (
  SELECT e.dst AS node, l.label, COUNT(*) AS c
  FROM edges e JOIN {prev} l ON l.node = e.src
  GROUP BY e.dst, l.label
),
p{i} AS (
  SELECT node, label FROM (
    SELECT node, label,
           ROW_NUMBER() OVER (PARTITION BY node ORDER BY c DESC, label) AS rn
    FROM c{i}
  ) WHERE rn = 1
),
l{i} AS MATERIALIZED (
  SELECT n.node, COALESCE(p.label, l.label) AS label
  FROM nodes n JOIN {prev} l USING (node) LEFT JOIN p{i} p USING (node)
)"""
        )
        prev = f"l{i}"
    parts.append(f""",
communities AS MATERIALIZED (SELECT node, label AS community FROM {prev})""")
    return "".join(parts)


# Session-scoped memo for the checkpointed graph substrates — see
# variantcalling_spark/_memo.py for the full recipe (localCheckpoint
# cuts lineage; the memo cuts recomputation). Re-exported here under
# the original names for the consumers and tests that grew around them.
from variantcalling_spark._memo import (  # noqa: E402
    _SUBSTRATE_MEMO,
    _session_stopped,
    memoized as _memoized,
)


def _knn3_fixed6(spark, sf_dir):
    """Session-memoized k=3 / 6-bit kNN edge substrate over embeddings
    — (vec_id, neighbor_id, cosine, rank), eagerly checkpointed once
    per (session, sf_dir). A dozen graph-analytics queries read this
    SAME graph (q132 family, harmonic/eccentricity/bridges/
    betweenness/...); before the memo each rebuilt the bucket self-join
    + cosine + top-k window per invocation — only the bucketed base
    relation was CacheManager-shared, never the scored pairs or the
    window. Same results by construction (the build is deterministic);
    the cut is EAGER because several consumers read the edge frame from
    two+ DAG branches of their first job."""
    from variantcalling_spark.operators.similarity import knn_graph

    def build():
        emb = load_table(spark, sf_dir, "embeddings")
        return knn_graph(emb, k=3, prefix_bits=6).transform(lineage_cut, eager=True)

    return _memoized("knn3f6", spark, sf_dir, build)


def _knn3_adaptive(spark, sf_dir):
    """Session-memoized ADAPTIVE-bits k=3 kNN edge substrate (q146
    family: PageRank, LOF, facility location, assortativity, ...) —
    the ``adaptive_knn_graph(emb, k=3)`` twin of :func:`_knn3_fixed6`,
    including its corpus ``count()`` (one job per SESSION now, was one
    per consumer invocation)."""
    from variantcalling_spark.operators.similarity import adaptive_knn_graph

    def build():
        emb = load_table(spark, sf_dir, "embeddings")
        return adaptive_knn_graph(emb, k=3).transform(lineage_cut, eager=True)

    return _memoized("knn3ad", spark, sf_dir, build)


def _ivf16_index(spark, sf_dir):
    """Session-memoized IVF(n_centroids=16) index over embeddings —
    (centroids_df, assigned). The seeded Spark ML KMeans fit (20
    distributed iterations) ran once per CONSUMER invocation before the
    memo; q392/q421/q481 all build this identical index. centroids_df
    is a tiny driver-local frame; the assignment is eagerly
    checkpointed once per (session, sf_dir)."""
    from variantcalling_spark.operators.similarity import ivf_index

    def build():
        emb = load_table(spark, sf_dir, "embeddings")
        centroids, assigned = ivf_index(emb, n_centroids=16)
        return centroids, assigned.transform(lineage_cut, eager=True)

    return _memoized("ivf16", spark, sf_dir, build)


def _pq_codes(spark, sf_dir, m: int):
    """Session-memoized PQ(m, k_sub=16) index — (codebooks, codes).
    The shared Lloyd loop (5 driver-coordinated rounds, one collect
    each, deterministic md5 init) runs once per (session, m) instead of
    once per consumer invocation: m=8 serves q121 / q478's m=8 arm /
    q481; m=2 and m=4 are q478's other recall arms, which rebuilt
    their trainings per invocation before the memo (measured 12.7 s
    per warm re-invocation at sf0.01, r11 sixth-session ledger)."""
    from variantcalling_spark.operators.similarity import pq_index

    def build():
        emb = load_table(spark, sf_dir, "embeddings")
        codebooks, codes = pq_index(emb, m=m, k_sub=16)
        return codebooks, codes.transform(lineage_cut, eager=True)

    return _memoized(f"pq{m}x16", spark, sf_dir, build)


def _pq_codes_8x16(spark, sf_dir):
    """The m=8 face of :func:`_pq_codes` (original name kept for its
    consumers and tests)."""
    return _pq_codes(spark, sf_dir, 8)


def _lpa_edges_and_labels(spark, sf_dir):
    """Spark side of the shared LPA chain: returns (edges, labels)
    DataFrames — edges symmetrized+distinct, labels after LPA_ITERS
    synchronous majority rounds. Per iteration: one equi-join of edges
    to labels, one (node,label) count aggregate (map-side combinable),
    one per-node argmax window, one left join back to carry isolated
    nodes — all partitioned by node/dst keys, no driver state, no
    collect. The edge table is persisted once and reused across
    iterations (same pattern as q144's PageRank loop)."""
    return _memoized("lpa", spark, sf_dir, lambda: _build_lpa(spark, sf_dir))


def _build_lpa(spark, sf_dir):
    from variantcalling_spark.operators.similarity import adaptive_knn_graph

    emb = load_table(spark, sf_dir, "embeddings")
    e0 = _knn3_adaptive(spark, sf_dir).select(
        F.col("vec_id").alias("src"), F.col("neighbor_id").alias("dst")
    )
    edges = (
        e0.unionByName(e0.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .transform(managed_persist)
    )
    nodes = emb.select(F.col("vec_id").alias("node"))
    labels = nodes.select("node", F.col("node").alias("label"))
    for _ in range(LPA_ITERS):
        # majority vote with (count DESC, label ASC) tie-break as ONE
        # map-side-combinable aggregate: min(struct(-c, label)) picks the
        # highest count, then the smallest label — identical order to the
        # former row_number window, without the per-node sort (r8: this
        # shed ~2 shuffle+sort stages per round; the 10x point had grown
        # floor-bound at ~15 sequential stages)
        pick = (
            edges.join(labels.withColumnRenamed("node", "src"), "src")
            .groupBy(F.col("dst").alias("node"), "label")
            .agg(F.count(F.lit(1)).alias("c"))
            .groupBy("node")
            .agg(F.min(F.struct((-F.col("c")).alias("nc"), "label")).alias("top"))
            .select("node", F.col("top.label").alias("new_label"))
        )
        # labels carries ALL nodes by induction (starts as nodes, each
        # round left-joins onto it), so no re-join to nodes is needed;
        # isolated nodes simply keep their label through the coalesce
        labels = labels.join(pick, "node", "left").select(
            "node", F.coalesce("new_label", "label").alias("label")
        )
    # EAGER lineage truncation at the substrate boundary (r9 verdict
    # ask #3): without it every downstream consumer of this pair
    # (q152/q254/q491/q500) re-inlines the kNN-build + 3 LPA rounds
    # each time it references edges or labels — q491's local-move
    # referenced them enough times to unroll to 2 057 Exchange nodes
    # in ONE static plan (compile cost, lineage depth, and recovery
    # cost after executor loss all grow with it). localCheckpoint cuts
    # both to leaves; runtime was already cache-served, so the only
    # behavior change is the plan (oracles unchanged, pinned by the
    # registry sweep).
    edges = edges.localCheckpoint()
    labels = labels.localCheckpoint()
    return edges, labels


@query(
    "q151_label_propagation",
    oracle=_lpa_cte_sql()
    + """
SELECT node, community, comm_size FROM (
  SELECT node, community,
         COUNT(*) OVER (PARTITION BY community) AS comm_size
  FROM communities
)
""",
)
def q151_label_propagation(spark, sf_dir):
    """Community detection over the corpus kNN graph (the SemDeDup/D4
    substrate) via synchronous label propagation — the clustering
    primitive a curation pipeline uses to group topically-redundant
    documents beyond pairwise near-dup edges. Determinism is designed
    in so the ITERATIVE algorithm carries a full value oracle: majority
    vote with (count DESC, label ASC) tie-break, isolated nodes keep
    their label, fixed synchronous rounds — the oracle unrolls the same
    rounds as SQL CTEs. Plan per round: edges⋈labels equi-join +
    map-side-combinable count + per-node argmax window; the symmetrized
    edge table persists once across rounds. At 100 TB this is the
    standard O(E) per-round LPA — no component diameter dependence,
    bounded rounds by construction."""
    from pyspark.sql import Window as W

    _, labels = _lpa_edges_and_labels(spark, sf_dir)
    return labels.select(
        "node",
        F.col("label").alias("community"),
        F.count(F.lit(1))
        .over(W.partitionBy("label"))
        .alias("comm_size"),
    )


@query(
    "q152_community_modularity",
    oracle=_lpa_cte_sql()
    + """
, m2t AS (SELECT COUNT(*) AS m2 FROM edges),
deg AS (SELECT src AS node, COUNT(*) AS d FROM edges GROUP BY src),
cin AS (
  SELECT ca.community, COUNT(*) AS in_edges
  FROM edges e
  JOIN communities ca ON ca.node = e.src
  JOIN communities cb ON cb.node = e.dst
  WHERE ca.community = cb.community
  GROUP BY ca.community
),
cdeg AS (
  SELECT c.community, CAST(SUM(d.d) AS BIGINT) AS deg_sum, COUNT(*) AS n_nodes
  FROM communities c JOIN deg d USING (node)
  GROUP BY c.community
)
SELECT community, n_nodes, in_edges, deg_sum, contrib_num, m2 AS contrib_den
FROM (
  SELECT cdeg.community,
         CAST(cdeg.n_nodes AS BIGINT) AS n_nodes,
         CAST(COALESCE(cin.in_edges, 0) AS BIGINT) AS in_edges,
         cdeg.deg_sum,
         CAST((SELECT m2 FROM m2t) * COALESCE(cin.in_edges, 0)
           - cdeg.deg_sum * cdeg.deg_sum AS BIGINT) AS contrib_num,
         CAST((SELECT m2 FROM m2t) * (SELECT m2 FROM m2t) AS BIGINT) AS m2
  FROM cdeg LEFT JOIN cin USING (community)
) WHERE n_nodes >= 2
""",
)
def q152_community_modularity(spark, sf_dir):
    """Newman modularity of the LPA partition, EXACT: per community,
    the contribution numerator m2·in_c − deg_c² over denominator m2²
    (Σ num / den = Q) stays in bigint rationals — no floating-point
    summation order anywhere, so the value oracle is bit-exact. This is
    the quality gate a curation pipeline runs after clustering: low-Q
    partitions mean the kNN bucket dial (q146) is set wrong for the
    corpus. Plan: the in-community edge count is edges⋈communities
    twice on (src,dst) equi-keys; degree and community sums are
    map-side-combinable aggregates; the 1-row m2 total broadcasts."""
    edges, labels = _lpa_edges_and_labels(spark, sf_dir)
    labels = managed_persist(labels.select("node", F.col("label").alias("community")))
    m2t = edges.agg(F.count(F.lit(1)).alias("m2"))
    deg = edges.groupBy(F.col("src").alias("node")).agg(F.count(F.lit(1)).alias("d"))
    cin = (
        edges.join(
            labels.select(F.col("node").alias("src"), F.col("community").alias("ca")),
            "src",
        )
        .join(
            labels.select(F.col("node").alias("dst"), F.col("community").alias("cb")),
            "dst",
        )
        .where(F.col("ca") == F.col("cb"))
        .groupBy(F.col("ca").alias("community"))
        .agg(F.count(F.lit(1)).alias("in_edges"))
    )
    cdeg = (
        labels.join(deg, "node")
        .groupBy("community")
        .agg(F.sum("d").alias("deg_sum"), F.count(F.lit(1)).alias("n_nodes"))
    )
    return (
        cdeg.join(cin, "community", "left")
        .crossJoin(F.broadcast(m2t))
        .where(F.col("n_nodes") >= 2)
        .select(
            "community",
            F.col("n_nodes").cast("bigint").alias("n_nodes"),
            F.coalesce("in_edges", F.lit(0).cast("bigint")).alias("in_edges"),
            "deg_sum",
            (
                F.col("m2") * F.coalesce("in_edges", F.lit(0).cast("bigint"))
                - F.col("deg_sum") * F.col("deg_sum")
            ).alias("contrib_num"),
            (F.col("m2") * F.col("m2")).alias("contrib_den"),
        )
    )


@query(
    "q158_label_centroid_similarity",
    oracle=f"""
WITH q AS (
  SELECT label,
         list_transform(embedding,
                        x -> CAST(ROUND(CAST(x AS DOUBLE) * {QUANT}) AS BIGINT)) AS qv
  FROM embeddings
),
e AS (SELECT label, unnest(generate_series(1, len(qv))) AS dim, unnest(qv) AS v FROM q),
s AS (SELECT label, dim, CAST(SUM(v) AS BIGINT) AS sv FROM e GROUP BY label, dim),
c AS (SELECT label, list(sv ORDER BY dim) AS vec FROM s GROUP BY label),
n AS (SELECT label, COUNT(*) AS n FROM q GROUP BY label),
cn AS (SELECT c.label, c.vec, n.n FROM c JOIN n USING (label))
SELECT a.label AS label_a, b.label AS label_b,
       a.n AS n_a, b.n AS n_b,
       ROUND(list_dot_product(a.vec, b.vec)
             / (sqrt(list_dot_product(a.vec, a.vec))
                * sqrt(list_dot_product(b.vec, b.vec))), 6) AS cosine
FROM cn a JOIN cn b ON a.label < b.label
""",
)
def q158_label_centroid_similarity(spark, sf_dir):
    """Per-class embedding centroids + the inter-class similarity
    matrix — the domain-drift / class-overlap report a curation
    pipeline reads before mixing sources (near-parallel centroids mean
    two "domains" are the same distribution; SemDeDup/D4 cluster stats
    are the unsupervised cousin). EXACT across engines: centroids stay
    as elementwise BIGINT sums of quantized vectors (cosine is
    scale-invariant, so sums ARE centroids — no float means), and the
    integer dot products are < 2^53, so the one rounded division
    matches bit-for-bit. Plan: posexplode to (label, dim) partial sums
    (map-side combinable, the k-means-update shape from ivf_index),
    reassembled per label via sort_array(collect_list); the pairwise
    stage joins k centroid rows — broadcast-tiny, Σk² pairs where k is
    the class count, never the corpus."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.select("label", _quantize(F.col("embedding")).alias("qv"))
    sums = (
        q.select("label", F.posexplode("qv").alias("dim", "v"))
        .groupBy("label", "dim")
        .agg(F.sum("v").alias("sv"))
    )
    cent = sums.groupBy("label").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("dim", "sv"))), lambda p: p.sv
        ).alias("vec")
    )
    counts = q.groupBy("label").agg(F.count(F.lit(1)).alias("n"))
    from variantcalling_spark.operators.similarity import _dot

    cn = cent.join(counts, "label")
    a, b = cn.alias("a"), F.broadcast(cn.alias("b"))
    av, bv = F.col("a.vec"), F.col("b.vec")
    return (
        a.join(b, F.col("a.label") < F.col("b.label"))
        .select(
            F.col("a.label").alias("label_a"),
            F.col("b.label").alias("label_b"),
            F.col("a.n").alias("n_a"),
            F.col("b.n").alias("n_b"),
            F.round(
                _dot(av, bv).cast("double")
                / (
                    F.sqrt(_dot(av, av).cast("double"))
                    * F.sqrt(_dot(bv, bv).cast("double"))
                ),
                6,
            ).alias("cosine"),
        )
    )


@query(
    "q173_graph_triangles",
    oracle=_lpa_cte_sql()
    + """
, deg AS (SELECT src AS node, COUNT(*) AS d FROM edges GROUP BY src),
tri AS (
  SELECT COUNT(*) AS triangles FROM edges e1
  JOIN edges e2 ON e2.src = e1.dst AND e2.dst > e1.dst
  JOIN edges e3 ON e3.src = e1.src AND e3.dst = e2.dst
  WHERE e1.src < e1.dst
),
wed AS (
  SELECT CAST(SUM(d * (d - 1) / 2) AS BIGINT) AS wedges FROM deg
)
SELECT CAST(tri.triangles AS BIGINT) AS triangles,
       wed.wedges,
       CAST(3 * tri.triangles AS BIGINT) AS cc_num,
       wed.wedges AS cc_den,
       ROUND(3 * tri.triangles / CAST(wed.wedges AS DOUBLE), 6)
         AS clustering_coefficient
FROM tri CROSS JOIN wed
""",
)
def q173_graph_triangles(spark, sf_dir):
    """Triangle count + global clustering coefficient of the corpus kNN
    graph — the transitivity check on the near-dup substrate: high
    clustering means neighborhoods are genuine topical clusters
    (SemDeDup-able); near-zero means the bucket dial is producing
    random pairings. Exact: triangles by the ordered node-iterator
    join (each triangle counted once via a < b < c ordering — two
    equi-joins on the symmetrized edge table, join keys are node ids
    so skew is bucket-bounded by the adaptive graph construction), and
    the coefficient 3·triangles / Σ d(d−1)/2 stays a bigint rational.
    Shares the q151/q152 edge CTE, so the whole graph-analytics family
    (communities, modularity, PageRank, transitivity) rides ONE
    substrate definition."""
    edges, _ = _lpa_edges_and_labels(spark, sf_dir)
    deg = edges.groupBy(F.col("src").alias("node")).agg(F.count(F.lit(1)).alias("d"))
    e1 = edges.where(F.col("src") < F.col("dst"))
    tri = (
        e1.alias("e1")
        .join(
            edges.alias("e2"),
            (F.col("e2.src") == F.col("e1.dst"))
            & (F.col("e2.dst") > F.col("e1.dst")),
        )
        .join(
            edges.alias("e3"),
            (F.col("e3.src") == F.col("e1.src"))
            & (F.col("e3.dst") == F.col("e2.dst")),
        )
        .agg(F.count(F.lit(1)).alias("triangles"))
    )
    wed = deg.agg(
        F.sum((F.col("d") * (F.col("d") - 1) / 2).cast("bigint")).alias("wedges")
    )
    return (
        tri.crossJoin(F.broadcast(wed))
        .select(
            F.col("triangles").cast("bigint").alias("triangles"),
            F.col("wedges").cast("bigint").alias("wedges"),
            (3 * F.col("triangles")).cast("bigint").alias("cc_num"),
            F.col("wedges").cast("bigint").alias("cc_den"),
            F.round(
                3 * F.col("triangles") / F.col("wedges").cast("double"), 6
            ).alias("clustering_coefficient"),
        )
    )


@query(
    "q174_mutual_knn_pairs",
    oracle=f"""
WITH knn AS ({_knn_graph_oracle_sql()})
SELECT a.vec_id AS id_a, a.neighbor_id AS id_b, a.cosine,
       a.rank AS rank_ab, b.rank AS rank_ba
FROM knn a JOIN knn b
  ON b.vec_id = a.neighbor_id AND b.neighbor_id = a.vec_id
WHERE a.vec_id < a.neighbor_id
""",
)
def q174_mutual_knn_pairs(spark, sf_dir):
    """Reciprocal nearest neighbors: pairs where each vector appears in
    the OTHER's top-k — the high-precision subset of the kNN graph
    (asymmetric hub neighbors drop out), which is the standard
    candidate set for conservative semantic dedup and for
    agglomerative cluster seeding (RNN chains). One self-equi-join of
    the kNN edge list on the reversed key pair; emitted once per pair
    via the id ordering; both directions' ranks ride along so
    downstream can tighten to mutual-top-1. Cost is |E| join |E| on
    exact keys — edge-list-sized, independent of corpus width."""
    from variantcalling_spark.operators.similarity import knn_graph

    emb = load_table(spark, sf_dir, "embeddings")
    knn = _knn3_fixed6(spark, sf_dir).transform(managed_persist)
    a, b = knn.alias("a"), knn.alias("b")
    return (
        a.join(
            b,
            (F.col("b.vec_id") == F.col("a.neighbor_id"))
            & (F.col("b.neighbor_id") == F.col("a.vec_id")),
        )
        .where(F.col("a.vec_id") < F.col("a.neighbor_id"))
        .select(
            F.col("a.vec_id").alias("id_a"),
            F.col("a.neighbor_id").alias("id_b"),
            F.col("a.cosine").alias("cosine"),
            F.col("a.rank").alias("rank_ab"),
            F.col("b.rank").alias("rank_ba"),
        )
    )


@query(
    "q175_mutual_nn_clusters",
    oracle=f"""
WITH RECURSIVE knn AS ({_knn_graph_oracle_sql()}),
m AS (
  SELECT a.vec_id AS id_a, a.neighbor_id AS id_b
  FROM knn a JOIN knn b
    ON b.vec_id = a.neighbor_id AND b.neighbor_id = a.vec_id
  WHERE a.vec_id < a.neighbor_id AND a.cosine >= 0.2
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM m
  UNION
  SELECT id_b AS src, id_a AS dst FROM m
),
closure AS (
  SELECT src AS node, src AS reach FROM edges
  UNION
  SELECT c.node, edges.dst AS reach
  FROM closure c JOIN edges ON edges.src = c.reach
)
SELECT MIN(reach) AS cluster_id, CAST(COUNT(DISTINCT node) AS BIGINT) AS n_members
FROM (SELECT node, MIN(reach) AS reach FROM closure GROUP BY node) labeled
GROUP BY reach
HAVING COUNT(DISTINCT node) >= 2
""",
)
def q175_mutual_nn_clusters(spark, sf_dir):
    """Conservative semantic micro-clusters: connected components over
    the RECIPROCAL-nearest-neighbor edges (q174's high-precision
    subset, cosine-floored) — the agglomerative seeding step of
    RNN-chain clustering, and the cautious alternative to q108's
    threshold dedup when false merges are expensive (each cluster is
    held together only by mutually-confirmed neighbor links). Mutual
    filtering first makes the component graph far sparser than the raw
    kNN graph, so star contraction converges in a couple of rounds;
    the oracle replays the same components as a recursive CTE (the
    q98 pattern on the embedding side)."""
    from variantcalling_spark.operators.dedup import connected_components
    from variantcalling_spark.operators.similarity import knn_graph

    emb = load_table(spark, sf_dir, "embeddings")
    knn = _knn3_fixed6(spark, sf_dir).transform(managed_persist)
    a, b = knn.alias("a"), knn.alias("b")
    m = (
        a.join(
            b,
            (F.col("b.vec_id") == F.col("a.neighbor_id"))
            & (F.col("b.neighbor_id") == F.col("a.vec_id")),
        )
        .where(
            (F.col("a.vec_id") < F.col("a.neighbor_id"))
            & (F.col("a.cosine") >= 0.2)
        )
        .select(
            F.col("a.vec_id").alias("doc_a"),
            F.col("a.neighbor_id").alias("doc_b"),
        )
    )
    labels = connected_components(m)
    return (
        labels.groupBy("label")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_members"))
        .where(F.col("n_members") >= 2)
        .select(F.col("label").alias("cluster_id"), "n_members")
    )


PPR_SEEDS = 10  # seed set: vec_id < 10


def _ppr_oracle_sql() -> str:
    knn = _knn_graph_oracle_sql()
    parts = [
        f"""
WITH knn AS (SELECT * FROM ({knn}) q0),
edges AS (SELECT vec_id AS src, neighbor_id AS dst FROM knn),
nodes AS MATERIALIZED (SELECT vec_id AS node FROM embeddings),
seeds AS (SELECT node FROM nodes WHERE node < {PPR_SEEDS}),
ns AS (SELECT COUNT(*) AS n FROM seeds),
outdeg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
r0 AS (
  SELECT n.node,
         CASE WHEN n.node < {PPR_SEEDS}
              THEN CAST({PR_SCALE} // (SELECT n FROM ns) AS BIGINT)
              ELSE CAST(0 AS BIGINT) END AS r
  FROM nodes n
)"""
    ]
    prev = "r0"
    for i in range(1, PR_ITERS + 1):
        parts.append(
            f""",
it{i} AS (
  SELECT e.dst AS node, SUM({prev}.r // o.deg) AS s
  FROM edges e JOIN {prev} ON {prev}.node = e.src
  JOIN outdeg o ON o.src = e.src
  GROUP BY e.dst
),
r{i} AS (
  SELECT n.node,
         CAST(CASE WHEN n.node < {PPR_SEEDS}
                   THEN (15 * {PR_SCALE}) // (100 * (SELECT n FROM ns))
                   ELSE 0 END
              + (85 * COALESCE(it{i}.s, 0)) // 100 AS BIGINT) AS r
  FROM nodes n LEFT JOIN it{i} USING (node)
)"""
        )
        prev = f"r{i}"
    parts.append(
        f"""
SELECT node, rank_scaled, rk FROM (
  SELECT node, r AS rank_scaled,
         CAST(ROW_NUMBER() OVER (ORDER BY r DESC, node) AS INT) AS rk
  FROM {prev} WHERE node >= {PPR_SEEDS} AND r > 0
) WHERE rk <= 20
"""
    )
    return "".join(parts)


@query("q186_personalized_pagerank", oracle=_ppr_oracle_sql())
def q186_personalized_pagerank(spark, sf_dir):
    """Personalized PageRank from a seed set — the graph-expansion
    primitive behind 'find more data like THIS' retrieval: teleport
    mass restarts only at the seed documents, so rank concentrates in
    the seeds' graph neighborhood and the top non-seed nodes ARE the
    semantic expansion of the seed topic (topic-conditioned data
    selection, the graph cousin of q128's hard negatives). Same
    integer fixed-point discipline as q144 — bigint rank mass, floor
    division, unrolled-CTE oracle — with the teleport vector
    concentrated on the seeds; output excludes the seeds themselves
    and zero-mass nodes (unreached from the seed neighborhood)."""
    from variantcalling_spark.operators.similarity import adaptive_knn_graph
    from pyspark.sql import Window as W2

    emb = load_table(spark, sf_dir, "embeddings")
    edges = (
        _knn3_adaptive(spark, sf_dir)
        .select(F.col("vec_id").alias("src"), F.col("neighbor_id").alias("dst"))
        .transform(managed_persist)
    )
    nodes = emb.select(F.col("vec_id").alias("node"))
    ns = nodes.where(F.col("node") < PPR_SEEDS).agg(
        F.count(F.lit(1)).alias("n")
    )
    outdeg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    seed_mass = F.when(
        F.col("node") < PPR_SEEDS,
        F.expr(f"CAST({PR_SCALE} AS BIGINT) DIV n"),
    ).otherwise(F.lit(0).cast("bigint"))
    ranks = nodes.crossJoin(F.broadcast(ns)).select("node", seed_mass.alias("r"))
    teleport = F.when(
        F.col("node") < PPR_SEEDS,
        F.expr(f"CAST(15 * {PR_SCALE} AS BIGINT) DIV (100 * n)"),
    ).otherwise(F.lit(0).cast("bigint"))
    for _ in range(PR_ITERS):
        contrib = (
            edges.join(ranks.withColumnRenamed("node", "src"), "src")
            .join(outdeg, "src")
            .select(F.col("dst").alias("node"), F.expr("r DIV deg").alias("c"))
            .groupBy("node")
            .agg(F.sum("c").alias("s"))
        )
        ranks = (
            nodes.join(contrib, "node", "left")
            .crossJoin(F.broadcast(ns))
            .select(
                "node",
                (
                    teleport
                    + F.expr("85 * COALESCE(s, CAST(0 AS BIGINT)) DIV 100")
                )
                .cast("bigint")
                .alias("r"),
            )
        )
    top = (
        ranks.where((F.col("node") >= PPR_SEEDS) & (F.col("r") > 0))
        .orderBy(F.col("r").desc(), "node")
        .limit(20)
    )
    return top.select(
        "node",
        F.col("r").alias("rank_scaled"),
        F.row_number()
        .over(W2.orderBy(F.col("r").desc(), "node"))
        .cast("int")
        .alias("rk"),
    )


@query(
    "q216_embedding_quantization",
    oracle="""
WITH v AS (
  SELECT vec_id, label,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS x
  FROM embeddings
),
s AS (
  SELECT vec_id, label, x,
         list_min(x) AS mn, list_max(x) AS mx,
         (list_max(x) - list_min(x)) / 255.0 AS scale
  FROM v
),
q AS (
  SELECT vec_id, label, x, mn, mx, scale,
         list_transform(x, e ->
           CASE WHEN scale > 0
                THEN LEAST(255, GREATEST(0, CAST(FLOOR((e - mn) / scale + 0.5) AS INT)))
                ELSE 0 END) AS code
  FROM s
),
e AS (
  SELECT vec_id, label, mn, mx, scale, code,
         list_transform(
           list_zip(x, code),
           p -> abs(p[1] - (mn + p[2] * scale))) AS err
  FROM q
)
SELECT vec_id, label,
       ROUND(mn, 9) AS vmin,
       ROUND(mx, 9) AS vmax,
       ROUND(list_max(err), 9) AS max_abs_err,
       ROUND(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list_transform(err, z -> z * z)),
             (a, b) -> a + b) / len(err), 12) AS mse,
       CAST(len(list_distinct(code)) AS INT) AS n_distinct_codes,
       CAST(len(list_filter(code, c -> c = 0 OR c = 255)) AS INT) AS n_saturated
FROM e
""",
)
def q216_embedding_quantization(spark, sf_dir):
    """INT8 SCALAR QUANTIZATION of the embedding store (the 4x
    vector-memory compression every large ANN deployment applies
    before indexing — FAISS SQ8 / Milvus SQ shape): per-vector min/max
    affine scale to codes 0..255, then the reconstruction-error ledger
    (max abs error, MSE, code diversity, saturation count) that decides
    whether SQ8 is safe for the corpus or PQ (q121) is needed.

    Exactness: float->double widening is exact, the quantize/dequantize
    chain is a fixed tree of correctly-rounded IEEE ops on identical
    inputs (FLOOR(x+0.5) instead of engine-varying ROUND-half modes),
    and the MSE fold is seeded and ascending on both engines — so the
    whole ledger is bit-deterministic under any partitioning. Scale
    shape: pure per-row projection, zero shuffle, zero UDF — quantizing
    100 TB of vectors runs at scan speed next to the parquet reader."""
    emb = load_table(spark, sf_dir, "embeddings")
    v = emb.select(
        "vec_id",
        "label",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("x"),
    )
    s = v.select(
        "*",
        F.array_min("x").alias("mn"),
        F.array_max("x").alias("mx"),
        ((F.array_max("x") - F.array_min("x")) / F.lit(255.0)).alias("scale"),
    )
    # mn/scale are projected columns: trivial captures in the lambdas
    q = s.withColumn(
        "code",
        F.expr(
            """transform(x, e ->
                 CASE WHEN scale > 0
                      THEN LEAST(255, GREATEST(0, CAST(FLOOR((e - mn) / scale + 0.5) AS INT)))
                      ELSE 0 END)"""
        ),
    )
    e = q.withColumn(
        "err",
        F.expr(
            "transform(arrays_zip(x, code), p -> abs(p.x - (mn + p.code * scale)))"
        ),
    )
    return e.select(
        "vec_id",
        "label",
        F.round("mn", 9).alias("vmin"),
        F.round("mx", 9).alias("vmax"),
        F.round(F.array_max("err"), 9).alias("max_abs_err"),
        F.round(
            F.expr(
                "aggregate(transform(err, z -> z * z), cast(0.0 as double), (a, b) -> a + b)"
            )
            / F.size("err"),
            12,
        ).alias("mse"),
        F.size(F.array_distinct("code")).alias("n_distinct_codes"),
        F.size(F.expr("filter(code, c -> c = 0 OR c = 255)")).alias("n_saturated"),
    )


def _ann_recall_oracle_sql(
    prefix_bits: int = 6, dim: int = 64, k: int = 10, n_queries: int = 40
) -> str:
    """Exact top-k and LSH-bucket top-k (q68's and q69's shapes, k=10)
    joined into a per-query recall@k ledger."""
    from variantcalling_spark.operators.similarity import _plane_signs

    signs = _plane_signs(prefix_bits, dim)

    def plane_vec(p):
        return "[" + ",".join(f"{signs[d][p]:.1f}" for d in range(dim)) + "]"

    sums = ",\n         ".join(
        f"list_dot_product(vd, {plane_vec(p)}) AS s{p}" for p in range(prefix_bits)
    )
    bucket = " + ".join(
        f"(CASE WHEN s{p} > 0 THEN {2**p} ELSE 0 END)" for p in range(prefix_bits)
    )
    return f"""
WITH base AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * {QUANT}) AS BIGINT)) AS v
  FROM embeddings
),
ex AS (
  SELECT query_id, cand_id FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
           CAST(ROW_NUMBER() OVER (
             PARTITION BY q.vec_id
             ORDER BY list_dot_product(q.v, c.v)
                      / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))) DESC,
                      c.vec_id) AS INT) AS rank
    FROM base q JOIN base c ON q.vec_id <> c.vec_id
    WHERE q.vec_id < {n_queries}
  ) WHERE rank <= {k}
),
sig AS (
  SELECT vec_id, v,
         {sums}
  FROM (SELECT vec_id, v, list_transform(v, x -> CAST(x AS DOUBLE)) AS vd FROM base)
),
bk AS (SELECT vec_id, v, {bucket} AS bucket FROM sig),
ap AS (
  SELECT query_id, cand_id FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
           CAST(ROW_NUMBER() OVER (
             PARTITION BY q.vec_id
             ORDER BY list_dot_product(q.v, c.v)
                      / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))) DESC,
                      c.vec_id) AS INT) AS rank
    FROM bk q JOIN bk c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
    WHERE q.vec_id < {n_queries}
  ) WHERE rank <= {k}
)
SELECT ex.query_id,
       COUNT(*) AS n_exact,
       CAST(COALESCE(MAX(r.n_retrieved), 0) AS BIGINT) AS n_retrieved,
       CAST(SUM(CASE WHEN ap.cand_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
       ROUND(SUM(CASE WHEN ap.cand_id IS NOT NULL THEN 1 ELSE 0 END) / CAST({k} AS DOUBLE), 6)
         AS recall_at_k
FROM ex
LEFT JOIN ap ON ap.query_id = ex.query_id AND ap.cand_id = ex.cand_id
LEFT JOIN (SELECT query_id, COUNT(*) AS n_retrieved FROM ap GROUP BY query_id) r
  ON r.query_id = ex.query_id
GROUP BY ex.query_id
"""


@query("q217_ann_recall_eval", oracle=_ann_recall_oracle_sql())
def q217_ann_recall_eval(spark, sf_dir):
    """ANN QUALITY HARNESS — recall@10 of the LSH-bucketed ANN (q69's
    production path) against the exact brute-force top-10 (q68's
    baseline), per query: the evaluation loop every ANN deployment
    runs before trusting approximate retrieval, and the number that
    decides prefix_bits/n_bands tuning (cf. the adaptive rules
    q129/q146 make executable). Output: per-query exact/retrieved/hit
    counts and recall@10.

    Scale shape: the exact arm broadcasts only the BOUNDED query
    sample (recall is estimated on a sample, never all-pairs on the
    corpus); the approximate arm is the same linear bucketed equi-join
    the production path runs. Join of the two top-k sets is
    (queries x k)-sized — negligible. Engine-exact: quantized integer
    dot products and full tie-breaks on both arms, so recall is
    value-checked, not statistically eyeballed."""
    from variantcalling_spark.operators.similarity import cosine_topk, lsh_cosine_topk

    emb = load_table(spark, sf_dir, "embeddings").transform(managed_persist)
    queries = emb.where(F.col("vec_id") < 40)
    k = 10
    ex = cosine_topk(queries, emb, k=k).select("query_id", "cand_id")
    ap = lsh_cosine_topk(
        queries, emb, k=k, n_planes=16, prefix_bits=6
    ).select("query_id", F.col("cand_id").alias("ap_cand"))
    ap = ap.transform(managed_persist)
    retr = ap.groupBy("query_id").agg(cnt("n_retrieved"))
    hits = ex.join(
        ap,
        (ex.query_id == ap.query_id) & (ex.cand_id == ap.ap_cand),
        "left",
    ).select(ex.query_id.alias("qid"), "cand_id", "ap_cand")
    return (
        hits.groupBy("qid")
        .agg(
            cnt("n_exact"),
            F.sum(F.when(F.col("ap_cand").isNotNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_hit"),
        )
        .join(retr, F.col("qid") == retr.query_id, "left")
        .select(
            F.col("qid").alias("query_id"),
            "n_exact",
            F.coalesce(F.col("n_retrieved"), F.lit(0)).cast("bigint").alias("n_retrieved"),
            "n_hit",
            F.round(F.col("n_hit") / F.lit(float(k)), 6).alias("recall_at_k"),
        )
    )


def _cluster_nmi_oracle_sql(prefix_bits: int = 6, dim: int = 64) -> str:
    from variantcalling_spark.operators.similarity import _plane_signs

    signs = _plane_signs(prefix_bits, dim)

    def plane_vec(p):
        return "[" + ",".join(f"{signs[d][p]:.1f}" for d in range(dim)) + "]"

    sums = ",\n         ".join(
        f"list_dot_product(vd, {plane_vec(p)}) AS s{p}" for p in range(prefix_bits)
    )
    bucket = " + ".join(
        f"(CASE WHEN s{p} > 0 THEN {2**p} ELSE 0 END)" for p in range(prefix_bits)
    )
    return f"""
WITH base AS (
  SELECT vec_id, label,
         list_transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * {QUANT}) AS BIGINT)) AS v
  FROM embeddings
),
sig AS (
  SELECT vec_id, label, {sums}
  FROM (SELECT vec_id, label, list_transform(v, x -> CAST(x AS DOUBLE)) AS vd FROM base)
),
bk AS (SELECT vec_id, label, {bucket} AS cluster FROM sig),
n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM bk),
cij AS (SELECT cluster, label, COUNT(*) AS nij FROM bk GROUP BY cluster, label),
ci AS (SELECT cluster, COUNT(*) AS ni FROM bk GROUP BY cluster),
cj AS (SELECT label, COUNT(*) AS nj FROM bk GROUP BY label),
mi AS (
  SELECT CAST(SUM(CAST(ROUND(
           (nij / n.n) * ln((n.n * nij) / (CAST(ni AS DOUBLE) * nj)), 12)
           AS DECIMAL(24,12))) AS DOUBLE) AS mi
  FROM cij JOIN ci USING (cluster) JOIN cj USING (label) CROSS JOIN n
),
hc AS (
  SELECT CAST(SUM(CAST(ROUND(-(ni / n.n) * ln(ni / n.n), 12)
           AS DECIMAL(24,12))) AS DOUBLE) AS h_cluster
  FROM ci CROSS JOIN n
),
hl AS (
  SELECT CAST(SUM(CAST(ROUND(-(nj / n.n) * ln(nj / n.n), 12)
           AS DECIMAL(24,12))) AS DOUBLE) AS h_label
  FROM cj CROSS JOIN n
)
SELECT CAST(n.n AS BIGINT) AS n_points,
       CAST((SELECT COUNT(*) FROM ci) AS BIGINT) AS n_clusters,
       CAST((SELECT COUNT(*) FROM cj) AS BIGINT) AS n_labels,
       ROUND(mi.mi, 6) AS mutual_info,
       ROUND(hc.h_cluster, 6) AS h_cluster,
       ROUND(hl.h_label, 6) AS h_label,
       ROUND(mi.mi / sqrt(hc.h_cluster * hl.h_label), 6) AS nmi
FROM n, mi, hc, hl
"""


@query("q223_clustering_nmi", oracle=_cluster_nmi_oracle_sql())
def q223_clustering_nmi(spark, sf_dir):
    """CLUSTERING-QUALITY HARNESS — Normalized Mutual Information of a
    discovered clustering against ground-truth labels: the number that
    grades SemDeDup/D4-style semantic curation substrates (q108, q151,
    q175) before trusting their cluster boundaries. The discovered
    clustering here is the engine-exact 6-bit hyperplane LSH bucket
    (q69's production bucketing) scored against ``embeddings.label``;
    NMI = I(C;L) / sqrt(H(C) H(L)).

    Scale shape: three map-side-combinable groupBys over one
    projection pass (contingency cells, cluster margins, label
    margins — all cluster-count-sized), then scalar combines of
    three 1-row aggregates; the corpus never shuffles on content.
    Determinism: every entropy/MI term is rounded to 12 decimals and
    summed as DECIMAL (order-free exact), margins are integers."""
    from variantcalling_spark.operators.similarity import (
        _band_slices_arrow,
        _quantize,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    bucket = _band_slices_arrow(6, 1)
    bk = emb.select(
        "vec_id",
        "label",
        F.element_at(bucket(_quantize(F.col("embedding"))), 1).alias("cluster"),
    ).transform(managed_persist)
    n = bk.agg(F.count(F.lit(1)).cast("double").alias("n"))
    cij = bk.groupBy("cluster", "label").agg(cnt("nij"))
    ci = bk.groupBy("cluster").agg(cnt("ni")).transform(managed_persist)
    cj = bk.groupBy("label").agg(cnt("nj")).transform(managed_persist)
    mi_term = F.round(
        (F.col("nij") / F.col("n"))
        * F.log((F.col("n") * F.col("nij")) / (F.col("ni").cast("double") * F.col("nj"))),
        12,
    ).cast("decimal(24,12)")
    mi = (
        cij.join(F.broadcast(ci), "cluster")
        .join(F.broadcast(cj), "label")
        .crossJoin(F.broadcast(n))
        .agg(F.sum(mi_term).cast("double").alias("mi"))
    )
    ent = lambda cdf, cname, alias: (  # noqa: E731
        cdf.crossJoin(F.broadcast(n)).agg(
            F.sum(
                F.round(
                    -(F.col(cname) / F.col("n")) * F.log(F.col(cname) / F.col("n")), 12
                ).cast("decimal(24,12)")
            )
            .cast("double")
            .alias(alias)
        )
    )
    hc = ent(ci, "ni", "h_cluster")
    hl = ent(cj, "nj", "h_label")
    nc = ci.agg(cnt("n_clusters"))
    nl = cj.agg(cnt("n_labels"))
    return (
        n.crossJoin(nc).crossJoin(nl).crossJoin(mi).crossJoin(hc).crossJoin(hl).select(
            F.col("n").cast("bigint").alias("n_points"),
            "n_clusters",
            "n_labels",
            F.round("mi", 6).alias("mutual_info"),
            F.round("h_cluster", 6).alias("h_cluster"),
            F.round("h_label", 6).alias("h_label"),
            F.round(
                F.col("mi") / F.sqrt(F.col("h_cluster") * F.col("h_label")), 6
            ).alias("nmi"),
        )
    )


@query(
    "q235_embedding_isotropy",
    oracle="""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS x
  FROM embeddings
),
nrm AS (
  SELECT vec_id, x,
         sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                list_transform(x, e -> e * e)), (a, b) -> a + b)) AS nn
  FROM v
),
u AS (
  SELECT vec_id, nn,
         list_transform(x, e -> ROUND(e / nn, 12)) AS uv
  FROM nrm WHERE nn > 0
),
dims AS (
  SELECT d, CAST(SUM(CAST(uv[CAST(d AS INT)] AS DECIMAL(24,12))) AS DOUBLE) AS s
  FROM u, unnest(generate_series(1, len(uv))) AS t(d)
  GROUP BY d
),
tot AS (
  SELECT CAST(SUM(CAST(ROUND(s * s, 10) AS DECIMAL(28,10))) AS DOUBLE) AS ssum
  FROM dims
),
cnt AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(ROUND(nn, 8) AS DECIMAL(24,8))) AS DOUBLE) AS norm_sum
  FROM u
)
SELECT cnt.n,
       ROUND(cnt.norm_sum / cnt.n, 6) AS mean_norm,
       ROUND((tot.ssum - cnt.n) / (CAST(cnt.n AS DOUBLE) * (cnt.n - 1)), 8)
         AS mean_pairwise_cosine
FROM cnt CROSS JOIN tot
""",
)
def q235_embedding_isotropy(spark, sf_dir):
    """EMBEDDING-SPACE ISOTROPY AUDIT — the representation-quality
    number behind the 'all-but-the-top' / anisotropy literature and
    the first thing to check before trusting cosine similarity on a
    new embedding model (an anisotropic space inflates every cosine,
    poisoning the q73/q74 thresholds and q108's SemDeDup): the MEAN
    PAIRWISE COSINE over all n^2 pairs computed WITHOUT any pair
    table, via the identity sum_{i<>j} cos(i,j) = ||sum u_i||^2 - n
    over unit vectors — one per-dimension sum aggregate replaces the
    O(n^2) join.

    Scale shape: normalize per-row, one (dim)-grouped DECIMAL sum
    (64 groups on any corpus), one 64-row combine — 100 TB of vectors
    audit at scan speed. The same sum-of-vectors trick the centroid
    computations (q71/q121/q158) already exploit, applied to a
    whole-corpus statistic."""
    emb = load_table(spark, sf_dir, "embeddings")
    v = emb.select(
        "vec_id", F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("x")
    )
    nrm = v.select(
        "vec_id",
        "x",
        F.sqrt(
            F.expr(
                "aggregate(transform(x, e -> e * e), cast(0.0 as double), (a, b) -> a + b)"
            )
        ).alias("nn"),
    )
    u = nrm.where(F.col("nn") > 0).select(
        "vec_id",
        "nn",
        F.expr("transform(x, e -> ROUND(e / nn, 12))").alias("uv"),
    ).transform(managed_persist)
    dims = (
        u.select(F.posexplode("uv").alias("d0", "val"))
        .select((F.col("d0") + 1).alias("d"), "val")
        .groupBy("d")
        .agg(F.sum(F.col("val").cast("decimal(24,12)")).cast("double").alias("s"))
    )
    tot = dims.agg(
        F.sum(F.round(F.col("s") * F.col("s"), 10).cast("decimal(28,10)"))
        .cast("double")
        .alias("ssum")
    )
    cnt = u.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.round("nn", 8).cast("decimal(24,8)")).cast("double").alias("norm_sum"),
    )
    return cnt.crossJoin(tot).select(
        "n",
        F.round(F.col("norm_sum") / F.col("n"), 6).alias("mean_norm"),
        F.round(
            (F.col("ssum") - F.col("n"))
            / (F.col("n").cast("double") * (F.col("n") - 1)),
            8,
        ).alias("mean_pairwise_cosine"),
    )


@query(
    "q251_knn_classification",
    oracle=f"""
WITH base AS (
  SELECT vec_id, label,
         list_transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * {QUANT}) AS BIGINT)) AS v
  FROM embeddings
),
knn AS (
  SELECT query_id, true_label, n_label, rank FROM (
    SELECT q.vec_id AS query_id, q.label AS true_label, c.label AS n_label,
           CAST(ROW_NUMBER() OVER (
             PARTITION BY q.vec_id
             ORDER BY list_dot_product(q.v, c.v)
                      / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))) DESC,
                      c.vec_id) AS INT) AS rank
    FROM base q JOIN base c ON q.vec_id <> c.vec_id
    WHERE q.vec_id < 60
  ) WHERE rank <= 10
),
votes AS (
  SELECT query_id, true_label, n_label,
         COUNT(*) AS n_votes, MIN(rank) AS best_rank
  FROM knn GROUP BY query_id, true_label, n_label
),
pred AS (
  SELECT query_id, true_label, n_label AS predicted
  FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY n_votes DESC, best_rank, n_label) AS rn
    FROM votes
  ) WHERE rn = 1
)
SELECT true_label,
       CAST(COUNT(*) AS BIGINT) AS n_queries,
       CAST(SUM(CASE WHEN predicted = true_label THEN 1 ELSE 0 END) AS BIGINT)
         AS n_correct,
       ROUND(SUM(CASE WHEN predicted = true_label THEN 1 ELSE 0 END)
             / CAST(COUNT(*) AS DOUBLE), 6) AS accuracy
FROM pred GROUP BY true_label
""",
)
def q251_knn_classification(spark, sf_dir):
    """kNN-CLASSIFICATION EVAL — leave-one-out 10-NN majority vote
    over the embedding store, scored against the ground-truth label
    column: the LABEL-QUALITY harness that tells you whether the
    embedding space separates your classes before you trust it for
    SemDeDup clustering (q108), hard-negative mining (q128), or
    retrieval routing — joins the eval-harness family (recall q217,
    nDCG q221, NMI q223). Vote tie-breaks: vote count, then best
    (closest) rank, then label — fully deterministic.

    Scale shape: the exact arm runs on a BOUNDED query sample (60
    queries); a production-scale run swaps in the q69 bucketed
    candidate join unchanged (the vote/accuracy algebra is identical
    over any candidate generator)."""
    from pyspark.sql import Window as W

    from variantcalling_spark.operators.similarity import cosine_topk

    emb = load_table(spark, sf_dir, "embeddings").transform(managed_persist)
    queries = emb.where(F.col("vec_id") < 60)
    nn = cosine_topk(queries, emb, k=10).select("query_id", "cand_id", "rank")
    lbl = emb.select("vec_id", "label")
    knn = (
        nn.join(
            lbl.select(F.col("vec_id").alias("query_id"), F.col("label").alias("true_label")),
            "query_id",
        )
        .join(
            lbl.select(F.col("vec_id").alias("cand_id"), F.col("label").alias("n_label")),
            "cand_id",
        )
    )
    votes = knn.groupBy("query_id", "true_label", "n_label").agg(
        F.count(F.lit(1)).alias("n_votes"), F.min("rank").alias("best_rank")
    )
    pred = (
        votes.withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("query_id").orderBy(
                    F.col("n_votes").desc(), "best_rank", "n_label"
                )
            ),
        )
        .where(F.col("rn") == 1)
        .select("query_id", "true_label", F.col("n_label").alias("predicted"))
    )
    return pred.groupBy("true_label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_queries"),
        F.sum(F.when(F.col("predicted") == F.col("true_label"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_correct"),
        F.round(
            F.sum(F.when(F.col("predicted") == F.col("true_label"), 1).otherwise(0))
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("accuracy"),
    )


_DBSCAN_EPS_Q = 4000       # eps = 0.04 in 1e5-quantized units
_DBSCAN_MINPTS = 4         # neighbors within eps, INCLUDING self


@query(
    "q253_dbscan",
    oracle=f"""
WITH RECURSIVE pts AS (
  SELECT vec_id,
         CAST(ROUND(CAST(embedding[1] AS DOUBLE) * 100000) AS BIGINT) AS xq,
         CAST(ROUND(CAST(embedding[2] AS DOUBLE) * 100000) AS BIGINT) AS yq
  FROM embeddings
),
cells AS (
  SELECT vec_id, xq, yq,
         xq // {_DBSCAN_EPS_Q} AS cx, yq // {_DBSCAN_EPS_Q} AS cy
  FROM pts
),
probes AS (
  SELECT c.vec_id, c.xq, c.yq, c.cx + dx.d AS px, c.cy + dy.d AS py
  FROM cells c,
       (SELECT unnest([-1, 0, 1]) AS d) dx,
       (SELECT unnest([-1, 0, 1]) AS d) dy
),
nbr AS (
  SELECT p.vec_id AS a, b.vec_id AS b
  FROM probes p JOIN cells b ON b.cx = p.px AND b.cy = p.py
  WHERE b.vec_id <> p.vec_id
    AND (p.xq - b.xq) * (p.xq - b.xq) + (p.yq - b.yq) * (p.yq - b.yq)
        <= {_DBSCAN_EPS_Q} * {_DBSCAN_EPS_Q}
),
deg AS (SELECT a AS vec_id, COUNT(*) + 1 AS n_nbr FROM nbr GROUP BY a),
core AS (
  SELECT p.vec_id FROM pts p
  JOIN deg d ON d.vec_id = p.vec_id
  WHERE d.n_nbr >= {_DBSCAN_MINPTS}
),
ce AS (
  SELECT n.a AS src, n.b AS dst FROM nbr n
  JOIN core ca ON ca.vec_id = n.a
  JOIN core cb ON cb.vec_id = n.b
),
closure AS (
  SELECT vec_id AS node, vec_id AS reach FROM core
  UNION
  SELECT c.node, ce.dst AS reach FROM closure c JOIN ce ON ce.src = c.reach
),
lbl AS (SELECT node, MIN(reach) AS cluster_id FROM closure GROUP BY node),
border AS (
  SELECT n.a AS vec_id, MIN(l.cluster_id) AS cluster_id
  FROM nbr n
  JOIN lbl l ON l.node = n.b
  WHERE n.a NOT IN (SELECT vec_id FROM core)
  GROUP BY n.a
),
assigned AS (
  SELECT node AS vec_id, cluster_id, 'core' AS role FROM lbl
  UNION ALL
  SELECT vec_id, cluster_id, 'border' AS role FROM border
),
noise AS (
  SELECT p.vec_id FROM pts p
  WHERE p.vec_id NOT IN (SELECT vec_id FROM assigned)
)
SELECT cluster_id,
       CAST(COUNT(*) FILTER (WHERE role = 'core') AS BIGINT) AS n_core,
       CAST(COUNT(*) FILTER (WHERE role = 'border') AS BIGINT) AS n_border,
       CAST(COUNT(*) AS BIGINT) AS n_total
FROM assigned GROUP BY cluster_id
UNION ALL
SELECT CAST(-1 AS BIGINT) AS cluster_id,
       CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(COUNT(*) AS BIGINT)
FROM noise
""",
)
def q253_dbscan(spark, sf_dir):
    """DBSCAN density clustering (Ester 1996 — the named clustering
    that needs NO k and finds noise, complementing the centroid family
    q71/q121/q158) over the first two embedding components: grid cells
    of side eps make exact eps-neighborhood discovery an EQUI-JOIN
    (each point probes its 9 neighbor cells — the classic spatial-join
    banding), core points have >= minPts neighbors including self,
    clusters are connected components of the core-core graph (the q98
    star-contraction operator), border points attach to their minimum
    core-neighbor cluster, the rest is noise. Output: per-cluster
    core/border/total counts plus the noise row (cluster_id = -1).

    Exactness: coordinates quantize to integers, so every distance
    comparison is integer arithmetic — bit-identical clustering, no
    epsilon ambiguity at the eps boundary. Scale shape: candidate
    pairs are sum-of-cell-size^2 (density-bounded), never n^2;
    components contract in O(log n) rounds."""
    from variantcalling_spark.operators.dedup import connected_components

    eps, minpts = _DBSCAN_EPS_Q, _DBSCAN_MINPTS
    emb = load_table(spark, sf_dir, "embeddings")
    pts = emb.select(
        "vec_id",
        F.round(F.expr("CAST(embedding[0] AS DOUBLE)") * 100000)
        .cast("bigint")
        .alias("xq"),
        F.round(F.expr("CAST(embedding[1] AS DOUBLE)") * 100000)
        .cast("bigint")
        .alias("yq"),
    ).transform(managed_persist)
    cells = pts.select(
        "vec_id",
        "xq",
        "yq",
        F.expr(f"xq DIV {eps}").alias("cx"),
        F.expr(f"yq DIV {eps}").alias("cy"),
    ).transform(managed_persist)
    d3 = spark.createDataFrame([(-1,), (0,), (1,)], ["d"])
    probes = (
        cells.crossJoin(F.broadcast(d3.select(F.col("d").alias("dx"))))
        .crossJoin(F.broadcast(d3.select(F.col("d").alias("dy"))))
        .select(
            F.col("vec_id").alias("a"),
            F.col("xq").alias("ax"),
            F.col("yq").alias("ay"),
            (F.col("cx") + F.col("dx")).alias("px"),
            (F.col("cy") + F.col("dy")).alias("py"),
        )
    )
    nbr = (
        probes.join(
            cells.select(
                F.col("vec_id").alias("b"),
                F.col("xq").alias("bx"),
                F.col("yq").alias("by"),
                F.col("cx").alias("px"),
                F.col("cy").alias("py"),
            ),
            ["px", "py"],
        )
        .where(
            (F.col("b") != F.col("a"))
            & (
                (F.col("ax") - F.col("bx")) * (F.col("ax") - F.col("bx"))
                + (F.col("ay") - F.col("by")) * (F.col("ay") - F.col("by"))
                <= eps * eps
            )
        )
        .select("a", "b")
        # lazy checkpoint: nbr feeds degree, core-core edges, and the
        # border attach - the campaign recipe (was 132 Exchange nodes)
        .transform(lineage_cut)
    )
    deg = nbr.groupBy("a").agg((F.count(F.lit(1)) + 1).alias("n_nbr"))
    core = deg.where(F.col("n_nbr") >= minpts).select(F.col("a").alias("vec_id"))
    core = core.transform(lineage_cut)
    ce = (
        nbr.join(core.select(F.col("vec_id").alias("a")), "a")
        .join(core.select(F.col("vec_id").alias("b")), "b")
        .select(F.col("a").alias("doc_a"), F.col("b").alias("doc_b"))
    )
    lbl = connected_components(ce).select(
        F.col("node").alias("vec_id"), F.col("label").alias("cluster_id")
    )
    # singleton cores (no core neighbor) are their own cluster
    lbl = lbl.unionByName(
        core.join(lbl.select("vec_id"), "vec_id", "left_anti").select(
            "vec_id", F.col("vec_id").alias("cluster_id")
        )
    ).transform(lineage_cut)
    border = (
        nbr.join(core.select(F.col("vec_id").alias("a")), "a", "left_anti")
        .join(lbl.select(F.col("vec_id").alias("b"), "cluster_id"), "b")
        .groupBy("a")
        .agg(F.min("cluster_id").alias("cluster_id"))
        .select(F.col("a").alias("vec_id"), "cluster_id")
    )
    assigned = lbl.select("vec_id", "cluster_id", F.lit("core").alias("role")).unionByName(
        border.select("vec_id", "cluster_id", F.lit("border").alias("role"))
    ).transform(managed_persist)
    noise_n = pts.join(assigned.select("vec_id"), "vec_id", "left_anti").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_total")
    )
    summary = assigned.groupBy("cluster_id").agg(
        F.sum(F.when(F.col("role") == "core", 1).otherwise(0))
        .cast("bigint")
        .alias("n_core"),
        F.sum(F.when(F.col("role") == "border", 1).otherwise(0))
        .cast("bigint")
        .alias("n_border"),
        F.count(F.lit(1)).cast("bigint").alias("n_total"),
    )
    noise_row = noise_n.select(
        F.lit(-1).cast("bigint").alias("cluster_id"),
        F.lit(0).cast("bigint").alias("n_core"),
        F.lit(0).cast("bigint").alias("n_border"),
        "n_total",
    )
    return summary.unionByName(noise_row)


def _conductance_oracle_sql() -> str:
    return (
        _lpa_cte_sql()
        + """
, m2t AS (SELECT COUNT(*) AS m2 FROM edges),
deg AS (SELECT src AS node, COUNT(*) AS d FROM edges GROUP BY src),
vol AS (
  SELECT c.community, CAST(SUM(d.d) AS BIGINT) AS vol, COUNT(*) AS n_nodes
  FROM communities c JOIN deg d USING (node)
  GROUP BY c.community
),
cut AS (
  SELECT ca.community, CAST(COUNT(*) AS BIGINT) AS cut_edges
  FROM edges e
  JOIN communities ca ON ca.node = e.src
  JOIN communities cb ON cb.node = e.dst
  WHERE ca.community <> cb.community
  GROUP BY ca.community
)
SELECT v.community,
       CAST(v.n_nodes AS BIGINT) AS n_nodes,
       v.vol,
       COALESCE(c.cut_edges, 0) AS cut_edges,
       ROUND(COALESCE(c.cut_edges, 0)
             / CAST(LEAST(v.vol, (SELECT m2 FROM m2t) - v.vol) AS DOUBLE), 6)
         AS conductance
FROM vol v LEFT JOIN cut c USING (community)
WHERE LEAST(v.vol, (SELECT m2 FROM m2t) - v.vol) > 0 AND v.n_nodes >= 2
"""
    )


@query("q254_community_conductance", oracle=_conductance_oracle_sql())
def q254_community_conductance(spark, sf_dir):
    """COMMUNITY CONDUCTANCE — the cut-quality grade phi(S) =
    cut(S) / min(vol(S), vol(V\\S)) for every LPA community over the
    kNN graph: the standard 'is this cluster actually separated?'
    metric that complements modularity (q152 asks 'better than
    random?', conductance asks 'how leaky is the boundary?') and the
    graders SemDeDup-style semantic curation needs before trusting
    cluster boundaries (with q223's NMI when labels exist, this when
    they don't).

    Scale shape: shares the q151/q152 substrate — one symmetrized
    edge table, two label joins on equi-keys, map-side-combinable
    volume/cut aggregates; integer cut/volume ratios, single IEEE
    division."""
    edges, labels = _lpa_edges_and_labels(spark, sf_dir)
    labels = managed_persist(labels.select("node", F.col("label").alias("community")))
    m2t = edges.agg(F.count(F.lit(1)).alias("m2"))
    deg = edges.groupBy(F.col("src").alias("node")).agg(F.count(F.lit(1)).alias("d"))
    vol = (
        labels.join(deg, "node")
        .groupBy("community")
        .agg(
            F.sum("d").cast("bigint").alias("vol"),
            F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
        )
    )
    cut = (
        edges.join(
            labels.select(F.col("node").alias("src"), F.col("community").alias("ca")),
            "src",
        )
        .join(
            labels.select(F.col("node").alias("dst"), F.col("community").alias("cb")),
            "dst",
        )
        .where(F.col("ca") != F.col("cb"))
        .groupBy(F.col("ca").alias("community"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("cut_edges"))
    )
    return (
        vol.join(cut, "community", "left")
        .crossJoin(F.broadcast(m2t))
        .where(
            (F.least(F.col("vol"), F.col("m2") - F.col("vol")) > 0)
            & (F.col("n_nodes") >= 2)
        )
        .select(
            "community",
            "n_nodes",
            "vol",
            F.coalesce("cut_edges", F.lit(0).cast("bigint")).alias("cut_edges"),
            F.round(
                F.coalesce("cut_edges", F.lit(0).cast("bigint"))
                / F.least(F.col("vol"), F.col("m2") - F.col("vol")).cast("double"),
                6,
            ).alias("conductance"),
        )
    )


_BFS_MAX_HOPS = 6


def _bfs_oracle_sql() -> str:
    knn = _knn_graph_oracle_sql()
    return f"""
WITH RECURSIVE knn AS (SELECT * FROM ({knn}) q0),
e0 AS MATERIALIZED (SELECT vec_id AS src, neighbor_id AS dst FROM knn),
edges AS MATERIALIZED (
  SELECT DISTINCT src, dst FROM (
    SELECT src, dst FROM e0 UNION ALL SELECT dst AS src, src AS dst FROM e0
  )
),
nodes AS MATERIALIZED (SELECT vec_id AS node FROM embeddings),
reach AS (
  SELECT node, 0 AS dist FROM nodes WHERE node % 100 = 0
  UNION
  SELECT e.dst AS node, r.dist + 1 AS dist
  FROM reach r JOIN edges e ON e.src = r.node
  WHERE r.dist < {_BFS_MAX_HOPS}
),
best AS (SELECT node, MIN(dist) AS dist FROM reach GROUP BY node)
SELECT dist, CAST(COUNT(*) AS BIGINT) AS n_nodes
FROM best GROUP BY dist
UNION ALL
SELECT -1 AS dist, CAST(COUNT(*) AS BIGINT) AS n_nodes
FROM nodes n WHERE n.node NOT IN (SELECT node FROM best)
"""


@query("q255_bfs_distances", oracle=_bfs_oracle_sql())
def q255_bfs_distances(spark, sf_dir):
    """BFS HOP-DISTANCE PROFILE from a seed set over the kNN graph
    (single-source/multi-seed shortest paths, hop metric — the graph
    family's reachability member beside PageRank q144/q186 and
    LPA q151): how many vectors sit 1, 2, ... {max} hops from the
    seeds (every 100th vector), and how many are unreachable within
    the horizon — the coverage question behind graph-based
    diversity/propagation curation (a label spreads only as far as
    the graph reaches).

    Scale shape: classic distributed frontier BFS — {max} bounded
    rounds of (frontier JOIN edges) with min-dist folding, the q144
    fixed-iteration pattern (driver holds only the round counter);
    each round is one equi-join + one map-side-combinable MIN."""
    from variantcalling_spark.operators.similarity import knn_graph

    emb = load_table(spark, sf_dir, "embeddings")
    e0 = _knn3_fixed6(spark, sf_dir).select(
        F.col("vec_id").alias("src"), F.col("neighbor_id").alias("dst")
    )
    edges = (
        e0.unionByName(e0.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .transform(managed_persist)
    )
    nodes = emb.select(F.col("vec_id").alias("node")).transform(managed_persist)
    seeds = nodes.where(F.col("node") % 100 == 0).select(
        "node", F.lit(0).alias("dist")
    )
    # proper frontier BFS with EAGER lineage truncation per round
    # (star_contraction's localCheckpoint recipe): each round joins
    # ONLY the newly-reached nodes against the edge table and
    # anti-joins already-settled nodes — per-round cost is
    # frontier-sized, settled hop distances are final, and the DAG
    # never deepens past one round
    dist = seeds.localCheckpoint()
    frontier = dist
    for k in range(_BFS_MAX_HOPS):
        nxt = (
            frontier.join(edges, frontier.node == edges.src)
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(dist.select("node"), "node", "left_anti")
            .select("node", F.lit(k + 1).alias("dist"))
        )
        frontier = nxt.localCheckpoint()
        if not frontier.take(1):
            break
        dist = dist.unionByName(frontier).localCheckpoint()
    hist = dist.groupBy("dist").agg(F.count(F.lit(1)).cast("bigint").alias("n_nodes"))
    unreach = nodes.join(dist.select("node"), "node", "left_anti").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes")
    ).select(F.lit(-1).alias("dist"), "n_nodes")
    return hist.unionByName(unreach)


def _rrf_oracle_sql(kq: int = 60, topk: int = 20, qvec: int = 7, cand: int = 100) -> str:
    return f"""
WITH dl AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS INT) AS dl FROM documents),
stats AS (
  SELECT COUNT(*) AS n_docs,
         CAST(SUM(CAST(len(string_split(text, ' ')) AS DECIMAL(18,2))) AS DOUBLE)
           / COUNT(*) AS avgdl
  FROM documents
),
toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
dfreq AS (SELECT w, COUNT(DISTINCT doc_id) AS df FROM toks WHERE w <> '' GROUP BY w),
qterm AS (SELECT w AS term, df FROM dfreq WHERE df >= 5 ORDER BY df ASC, w LIMIT 1),
tf AS (
  SELECT t.doc_id, COUNT(*) AS tf FROM toks t JOIN qterm q ON t.w = q.term
  GROUP BY t.doc_id
),
bm AS (
  SELECT doc_id,
         CAST(ROW_NUMBER() OVER (ORDER BY
           CAST(ln((n_docs - q.df + 0.5) / (q.df + 0.5) + 1)
                * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl.dl / avgdl))
                AS DECIMAL(18,12)) DESC, doc_id) AS INT) AS r_bm25
  FROM tf JOIN dl USING (doc_id) CROSS JOIN stats CROSS JOIN qterm q
  QUALIFY r_bm25 <= {cand}
),
base AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * {QUANT}) AS BIGINT)) AS v
  FROM embeddings
),
qv AS (SELECT v FROM base WHERE vec_id = {qvec}),
ann AS (
  SELECT c.vec_id AS doc_id,
         CAST(ROW_NUMBER() OVER (ORDER BY
           list_dot_product(q.v, c.v)
             / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))) DESC,
           c.vec_id) AS INT) AS r_ann
  FROM base c CROSS JOIN qv q WHERE c.vec_id <> {qvec}
  QUALIFY r_ann <= {cand}
),
fused AS (
  SELECT COALESCE(bm.doc_id, ann.doc_id) AS doc_id, bm.r_bm25, ann.r_ann,
         (CASE WHEN bm.r_bm25 IS NOT NULL THEN 1.0 / ({kq} + bm.r_bm25) ELSE 0.0 END)
         + (CASE WHEN ann.r_ann IS NOT NULL THEN 1.0 / ({kq} + ann.r_ann) ELSE 0.0 END)
           AS rrf
  FROM bm FULL OUTER JOIN ann ON ann.doc_id = bm.doc_id
)
SELECT doc_id, r_bm25, r_ann, ROUND(rrf, 10) AS rrf_score, rank FROM (
  SELECT *, CAST(ROW_NUMBER() OVER (ORDER BY rrf DESC, doc_id) AS INT) AS rank
  FROM fused
) WHERE rank <= {topk}
"""


@query("q258_rrf_hybrid_retrieval", oracle=_rrf_oracle_sql())
def q258_rrf_hybrid_retrieval(spark, sf_dir):
    """RECIPROCAL RANK FUSION — the standard HYBRID RETRIEVAL
    combiner (lexical BM25 + dense ANN, fused by
    sum 1/(60 + rank) — Cormack's RRF, what every production RAG
    stack runs because neither ranker's scores are calibrated against
    the other's): the rarest query term drives the q116 BM25 arm, a
    fixed query vector drives the q68 exact-cosine arm (doc_id ==
    vec_id — document embeddings), a FULL OUTER join preserves
    single-arm hits, top-20 by fused score.

    Scale shape: each arm keeps its own scale path (postings
    semi-join / candidate scoring); the fusion joins two
    top-list-sized relations. Determinism: ranks come from
    DECIMAL-snapped scores with id tie-breaks; the fused score is a
    two-term sum of exact reciprocals in fixed order."""
    from pyspark.sql import Window as W

    kq, topk, qvec, cand = 60, 20, 7, 100
    docs = load_table(spark, sf_dir, "documents").transform(managed_persist)
    toks = docs.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
    dfreq = (
        toks.where(F.col("w") != "")
        .groupBy("w")
        .agg(F.countDistinct("doc_id").alias("df"))
    )
    qterm = (
        dfreq.where(F.col("df") >= 5)
        .orderBy(F.col("df").asc(), "w")
        .limit(1)
        .select(F.col("w").alias("term"), "df")
    )
    dl = docs.select("doc_id", F.size(F.split("text", " ")).alias("dl"))
    stats = docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (
            F.sum(F.size(F.split("text", " ")).cast("decimal(18,2)")).cast("double")
            / F.count(F.lit(1))
        ).alias("avgdl"),
    )
    tf = (
        toks.join(F.broadcast(qterm), toks.w == qterm.term)
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    score = (
        F.log((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1)
        * (F.col("tf") * 2.2)
        / (F.col("tf") + 1.2 * (0.25 + 0.75 * F.col("dl") / F.col("avgdl")))
    ).cast("decimal(18,12)")
    # each arm is bounded to its top-`cand` candidates BEFORE fusing
    # (VERDICT r6 fix: RRF only needs the ranks of fusion survivors, and
    # unbounded arms were full single-partition rankings of every
    # matching doc; top-cand plans as TakeOrderedAndProject / pushed
    # window-group limits — distributed heap-selects). The oracle
    # carries the identical QUALIFY bound.
    bm = (
        tf.join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .crossJoin(F.broadcast(qterm))
        .select("doc_id", score.alias("s"))
        .orderBy(F.col("s").desc(), "doc_id")
        .limit(cand)
        .select(
            "doc_id",
            F.row_number()
            .over(W.orderBy(F.col("s").desc(), "doc_id"))
            .cast("int")
            .alias("r_bm25"),
        )
    )
    from variantcalling_spark.operators.similarity import cosine_topk

    emb = load_table(spark, sf_dir, "embeddings")
    ann = (
        cosine_topk(emb.where(F.col("vec_id") == qvec), emb, k=cand)
        .select(F.col("cand_id").alias("doc_id"), F.col("rank").alias("r_ann"))
    )
    fused = (
        bm.join(ann, "doc_id", "full_outer")
        .select(
            "doc_id",
            "r_bm25",
            "r_ann",
            (
                F.coalesce(1.0 / (kq + F.col("r_bm25")), F.lit(0.0))
                + F.coalesce(1.0 / (kq + F.col("r_ann")), F.lit(0.0))
            ).alias("rrf"),
        )
    )
    return (
        fused.withColumn(
            "rank",
            F.row_number().over(W.orderBy(F.col("rrf").desc(), "doc_id")).cast("int"),
        )
        .where(F.col("rank") <= topk)
        .select("doc_id", "r_bm25", "r_ann", F.round("rrf", 10).alias("rrf_score"), "rank")
    )


@query(
    "q259_silhouette",
    oracle=f"""
WITH base AS (
  SELECT vec_id, label,
         list_transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * {QUANT}) AS BIGINT)) AS v
  FROM embeddings WHERE vec_id < 120
),
pair_d AS (
  SELECT a.vec_id AS i, a.label AS li, b.label AS lj,
         1.0 - list_dot_product(a.v, b.v)
           / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
           AS d
  FROM base a JOIN base b ON a.vec_id <> b.vec_id
),
agg AS (
  SELECT i, li, lj,
         CAST(SUM(CAST(ROUND(d, 12) AS DECIMAL(20,12))) AS DOUBLE) AS dsum,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM pair_d GROUP BY i, li, lj
),
a_term AS (
  SELECT i, li, dsum / n AS a FROM agg WHERE lj = li AND n > 0
),
b_term AS (
  SELECT i, MIN(dsum / n) AS b FROM agg WHERE lj <> li GROUP BY i
),
sil AS (
  SELECT a.li AS label,
         (b.b - a.a) / GREATEST(a.a, b.b) AS s
  FROM a_term a JOIN b_term b USING (i)
  WHERE GREATEST(a.a, b.b) > 0
)
SELECT label,
       CAST(COUNT(*) AS BIGINT) AS n_points,
       ROUND(CAST(SUM(CAST(ROUND(s, 10) AS DECIMAL(22,10))) AS DOUBLE)
             / COUNT(*), 6) AS mean_silhouette
FROM sil GROUP BY label
""",
)
def q259_silhouette(spark, sf_dir):
    """EXACT SILHOUETTE COEFFICIENT per class (Rousseeuw 1987 — the
    geometric clustering grade completing the eval set: NMI q223
    scores against labels, conductance q254 scores the graph cut,
    silhouette scores the METRIC separation s = (b - a)/max(a, b)):
    cosine-distance silhouette over a bounded sample against the
    ground-truth labels, per-class means.

    Scale discipline: silhouette is inherently all-pairs, so it runs
    on a BOUNDED AUDIT SAMPLE (120 points — the statistic estimates
    cluster quality, it does not need the corpus; the same
    bounded-sample rule as q217/q251); per-(point, class) distance
    sums are DECIMAL-snapped, a/b are single divisions, and the class
    mean snaps again — partition-invariant. A corpus-scale variant
    would swap exact pair distances for the q121 PQ-ADC
    approximation unchanged."""
    emb = load_table(spark, sf_dir, "embeddings")
    from variantcalling_spark.operators.similarity import _cosine_arrow, _quantize

    base = (
        emb.where(F.col("vec_id") < 120)
        .select("vec_id", "label", _quantize(F.col("embedding")).alias("v"))
        .transform(managed_persist)
    )
    a = base.select(
        F.col("vec_id").alias("i"), F.col("label").alias("li"), F.col("v").alias("va")
    )
    b = base.select(
        F.col("vec_id").alias("j"), F.col("label").alias("lj"), F.col("v").alias("vb")
    )
    pair_d = (
        a.join(b, F.col("i") != F.col("j"))
        .select(
            "i",
            "li",
            "lj",
            (1.0 - _cosine_arrow()(F.col("va"), F.col("vb"))).alias("d"),
        )
    )
    agg = pair_d.groupBy("i", "li", "lj").agg(
        F.sum(F.round("d", 12).cast("decimal(20,12)")).cast("double").alias("dsum"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    ).transform(managed_persist)
    a_term = agg.where((F.col("lj") == F.col("li")) & (F.col("n") > 0)).select(
        "i", "li", (F.col("dsum") / F.col("n")).alias("a")
    )
    b_term = (
        agg.where(F.col("lj") != F.col("li"))
        .groupBy("i")
        .agg(F.min(F.col("dsum") / F.col("n")).alias("b"))
    )
    sil = (
        a_term.join(b_term, "i")
        .where(F.greatest("a", "b") > 0)
        .select(
            F.col("li").alias("label"),
            ((F.col("b") - F.col("a")) / F.greatest("a", "b")).alias("s"),
        )
    )
    return sil.groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_points"),
        F.round(
            F.sum(F.round("s", 10).cast("decimal(22,10)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("mean_silhouette"),
    )


KCORE_K = 3
KCORE_ROUNDS = 5


def _kcore_oracle_sql() -> str:
    knn = _knn_graph_oracle_sql()
    parts = [
        f"""
WITH knn AS (SELECT * FROM ({knn}) q0),
sym AS (
  SELECT DISTINCT src, dst FROM (
    SELECT vec_id AS src, neighbor_id AS dst FROM knn
    UNION ALL
    SELECT neighbor_id AS src, vec_id AS dst FROM knn
  ) WHERE src <> dst
),
alive0 AS (SELECT DISTINCT src AS node FROM sym)"""
    ]
    prev = "alive0"
    for i in range(1, KCORE_ROUNDS + 1):
        parts.append(
            f""",
deg{i} AS (
  SELECT e.src AS node, CAST(COUNT(*) AS BIGINT) AS deg
  FROM sym e
  JOIN {prev} a ON a.node = e.src
  JOIN {prev} b ON b.node = e.dst
  GROUP BY e.src
),
alive{i} AS (SELECT node FROM deg{i} WHERE deg >= {KCORE_K})"""
        )
        prev = f"alive{i}"
    rows = "\n  UNION ALL\n".join(
        f"  SELECT {i} AS round, (SELECT CAST(COUNT(*) AS BIGINT) FROM alive{i}) AS n_alive"
        for i in range(KCORE_ROUNDS + 1)
    )
    parts.append(
        f"""
SELECT CAST(round AS INT) AS round, n_alive FROM (
{rows}
) t
"""
    )
    return "".join(parts)


@query("q264_kcore_peeling", oracle=_kcore_oracle_sql())
def q264_kcore_peeling(spark, sf_dir):
    """K-CORE PEELING over the corpus kNN graph — the density-based
    keep-set selector completing the graph-analytics family (PageRank
    q144 ranks by centrality, conductance q254 grades communities,
    k-core isolates the maximal subgraph of minimum degree k — the
    SemDeDup/D4-style 'dense semantic neighborhoods' a curation pass
    keeps or caps). Bounded synchronous peeling: {KCORE_ROUNDS} rounds
    of drop-degree-<k, reporting survivors per round (round 0 = all
    nodes with an edge).

    Scale discipline: the graph substrate is the adaptive-bits kNN
    graph (pair count linear in corpus size); each peeling round is two
    semi-join-shaped equi-joins (edges against the alive set, both
    endpoints) + one map-side-combinable degree count, with the alive
    set persisted per round — lineage stays bounded exactly as the BFS
    frontier rule (q255). Rounds are a fixed budget, the convergence
    ledger IS the output, so the plan depth is known at submit time."""
    from variantcalling_spark.operators.similarity import adaptive_knn_graph

    emb = load_table(spark, sf_dir, "embeddings")
    knn = _knn3_adaptive(spark, sf_dir).select(
        F.col("vec_id").alias("src"), F.col("neighbor_id").alias("dst")
    )
    # localCheckpoint, not persist: five self-referential rounds over the
    # (already large) knn-graph plan would otherwise nest the full lineage
    # per round -- the q255 frontier rule (truncate, then iterate).
    sym = (
        knn.unionByName(knn.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .where(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint()
    )
    alive = sym.select(F.col("src").alias("node")).distinct().localCheckpoint()
    ledger = [(0, alive)]
    for i in range(1, KCORE_ROUNDS + 1):
        deg = (
            sym.join(alive.withColumnRenamed("node", "src"), "src")
            .join(alive.select(F.col("node").alias("dst")), "dst")
            .groupBy("src")
            .agg(F.count(F.lit(1)).cast("bigint").alias("deg"))
        )
        alive = (
            deg.where(F.col("deg") >= KCORE_K)
            .select(F.col("src").alias("node"))
            .localCheckpoint()
        )
        ledger.append((i, alive))
    rows = None
    for i, a in ledger:
        r = a.agg(F.count(F.lit(1)).cast("bigint").alias("n_alive")).select(
            F.lit(i).cast("int").alias("round"), "n_alive"
        )
        rows = r if rows is None else rows.unionByName(r)
    return rows


@query(
    "q279_label_noise_matrix",
    oracle=f"""
WITH base AS (
  SELECT vec_id, label,
         list_transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * {QUANT}) AS BIGINT)) AS v
  FROM embeddings
),
knn AS (
  SELECT query_id, true_label, n_label, rank FROM (
    SELECT q.vec_id AS query_id, q.label AS true_label, c.label AS n_label,
           CAST(ROW_NUMBER() OVER (
             PARTITION BY q.vec_id
             ORDER BY list_dot_product(q.v, c.v)
                      / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))) DESC,
                      c.vec_id) AS INT) AS rank
    FROM base q JOIN base c ON q.vec_id <> c.vec_id
    WHERE q.vec_id < 120
  ) WHERE rank <= 10
),
votes AS (
  SELECT query_id, true_label, n_label,
         COUNT(*) AS n_votes, MIN(rank) AS best_rank
  FROM knn GROUP BY query_id, true_label, n_label
),
pred AS (
  SELECT query_id, true_label, n_label AS predicted, n_votes
  FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY n_votes DESC, best_rank, n_label) AS rn
    FROM votes
  ) WHERE rn = 1
),
joint AS (
  SELECT true_label, predicted,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN n_votes >= 8 THEN 1 ELSE 0 END) AS BIGINT) AS n_confident
  FROM pred GROUP BY true_label, predicted
)
SELECT true_label, predicted, n, n_confident,
       ROUND(CAST(n AS DOUBLE)
             / SUM(n) OVER (PARTITION BY true_label), 6) AS frac_of_true,
       CASE WHEN predicted <> true_label THEN 1 ELSE 0 END AS is_offdiag
FROM joint
""",
)
def q279_label_noise_matrix(spark, sf_dir):
    """LABEL-NOISE JOINT MATRIX (Northcutt et al. confident-learning
    shape): the full (given label x kNN-predicted label) joint-count
    matrix over a bounded audit sample, with a CONFIDENT off-diagonal
    count (>= 8 of 10 neighbor votes disagreeing with the given label
    — the rows a cleanlab-style pipeline would flag for relabeling).
    Extends the per-class accuracy harness (q251) to the full Q-matrix
    a noise-rate estimate needs.

    Scale shape: identical substrate to q251 (bounded exact kNN —
    swap in the bucketed candidate generator q69 for corpus scale,
    the vote/joint algebra is unchanged); the joint matrix is
    |labels|^2 rows, the row-normalizer a window over that tiny
    table. Vote tie-breaks fully deterministic (count, best rank,
    label)."""
    from pyspark.sql import Window as W

    from variantcalling_spark.operators.similarity import cosine_topk

    emb = load_table(spark, sf_dir, "embeddings").transform(managed_persist)
    queries = emb.where(F.col("vec_id") < 120)
    nn = cosine_topk(queries, emb, k=10).select("query_id", "cand_id", "rank")
    lbl = emb.select("vec_id", "label")
    knn = (
        nn.join(
            lbl.select(F.col("vec_id").alias("query_id"), F.col("label").alias("true_label")),
            "query_id",
        )
        .join(
            lbl.select(F.col("vec_id").alias("cand_id"), F.col("label").alias("n_label")),
            "cand_id",
        )
    )
    votes = knn.groupBy("query_id", "true_label", "n_label").agg(
        F.count(F.lit(1)).alias("n_votes"), F.min("rank").alias("best_rank")
    )
    pred = (
        votes.withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("query_id").orderBy(
                    F.col("n_votes").desc(), "best_rank", "n_label"
                )
            ),
        )
        .where(F.col("rn") == 1)
        .select("true_label", F.col("n_label").alias("predicted"), "n_votes")
    )
    joint = pred.groupBy("true_label", "predicted").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.when(F.col("n_votes") >= 8, 1).otherwise(0))
        .cast("bigint")
        .alias("n_confident"),
    )
    return joint.select(
        "true_label",
        "predicted",
        "n",
        "n_confident",
        F.round(
            F.col("n").cast("double")
            / F.sum("n").over(W.partitionBy("true_label")),
            6,
        ).alias("frac_of_true"),
        F.when(F.col("predicted") != F.col("true_label"), 1).otherwise(0).alias(
            "is_offdiag"
        ),
    )


def _lof_oracle_sql() -> str:
    knn = _knn_graph_oracle_sql()
    return f"""
WITH knn AS (SELECT * FROM ({knn}) q0),
edges AS (
  SELECT vec_id, neighbor_id, 1.0 - cosine AS dist FROM knn
),
kdist AS (
  SELECT vec_id AS node, MAX(dist) AS kd, CAST(COUNT(*) AS BIGINT) AS nk
  FROM edges GROUP BY vec_id
),
reach AS (
  SELECT e.vec_id, e.neighbor_id,
         ROUND(CASE WHEN ko.kd > e.dist THEN ko.kd ELSE e.dist END, 12) AS rd
  FROM edges e JOIN kdist ko ON ko.node = e.neighbor_id
),
lrd AS (
  SELECT r.vec_id AS node,
         CASE WHEN CAST(SUM(CAST(r.rd AS DECIMAL(20,12))) AS DOUBLE) > 0
              THEN ROUND(k.nk / CAST(SUM(CAST(r.rd AS DECIMAL(20,12)))
                                     AS DOUBLE), 9)
              ELSE 1.0e12 END AS lrd
  FROM reach r JOIN kdist k ON k.node = r.vec_id
  GROUP BY r.vec_id, k.nk
),
lof AS (
  SELECT e.vec_id,
         k.nk,
         lp.lrd AS lrd_p,
         ROUND(CAST(SUM(CAST(lo.lrd AS DECIMAL(26,9))) AS DOUBLE)
               / k.nk / lp.lrd, 6) AS lof
  FROM edges e
  JOIN kdist k ON k.node = e.vec_id
  JOIN lrd lp ON lp.node = e.vec_id
  JOIN lrd lo ON lo.node = e.neighbor_id
  GROUP BY e.vec_id, k.nk, lp.lrd
)
SELECT vec_id, CAST(nk AS BIGINT) AS n_neighbors, lrd_p AS lrd, lof,
       CAST(ROW_NUMBER() OVER (ORDER BY lof DESC, vec_id) AS INT) AS rk
FROM lof
QUALIFY rk <= 20
"""


@query("q294_lof_outliers", oracle=_lof_oracle_sql())
def q294_lof_outliers(spark, sf_dir):
    """LOCAL OUTLIER FACTOR over the corpus kNN graph (Breunig 2000 —
    the density-relative outlier score behind embedding-space anomaly
    triage: a point is anomalous if its neighborhood is SPARSER than
    its neighbors' neighborhoods; the density complement of q253's
    DBSCAN labels and q183's global MAD z-scores): k-distance,
    reachability distance, local reachability density and the final
    LOF ratio, top-20 ledger.

    Scale discipline: every LOF stage is an EQUI-JOIN on the shared
    kNN edge substrate (q146's adaptive-bits graph — pair count linear
    in the corpus): k-dist is a per-node MAX, reach-dist a
    neighbor-keyed join, lrd and LOF per-node aggregates over <= k
    rows each. Nothing touches raw vectors after the graph is built.
    Distances are 1 - cosine of exact integer dot products (bit-equal
    cross-engine); per-stage round + DECIMAL sums keep the <= k-term
    reductions order-free."""
    from variantcalling_spark.operators.similarity import adaptive_knn_graph

    emb = load_table(spark, sf_dir, "embeddings")
    edges = (
        _knn3_adaptive(spark, sf_dir)
        .select("vec_id", "neighbor_id", (F.lit(1.0) - F.col("cosine")).alias("dist"))
        .transform(managed_persist)
    )
    kdist = edges.groupBy(F.col("vec_id").alias("node")).agg(
        F.max("dist").alias("kd"), F.count(F.lit(1)).cast("bigint").alias("nk")
    ).transform(managed_persist)
    reach = edges.join(
        F.broadcast(kdist.select(F.col("node").alias("neighbor_id"), "kd")),
        "neighbor_id",
    ).select(
        "vec_id",
        "neighbor_id",
        F.round(F.greatest(F.col("kd"), F.col("dist")), 12).alias("rd"),
    )
    lrd = (
        reach.groupBy("vec_id")
        .agg(F.sum(F.col("rd").cast("decimal(20,12)")).cast("double").alias("srd"))
        .join(F.broadcast(kdist.select(F.col("node").alias("vec_id"), "nk")), "vec_id")
        .select(
            F.col("vec_id").alias("node"),
            # exact-duplicate cores have srd = 0 (all reach-dists 0);
            # lrd is +inf in the LOF literature — pinned to the 1e12
            # sentinel on BOTH engines so 10x replica corpora (which
            # contain exact copies) stay crash-free and deterministic
            F.when(
                F.col("srd") > 0, F.round(F.col("nk") / F.col("srd"), 9)
            ).otherwise(F.lit(1.0e12)).alias("lrd"),
        )
        .transform(managed_persist)
    )
    lof = (
        edges.join(
            F.broadcast(lrd.select(F.col("node").alias("neighbor_id"), F.col("lrd").alias("lrd_o"))),
            "neighbor_id",
        )
        .groupBy("vec_id")
        .agg(F.sum(F.col("lrd_o").cast("decimal(26,9)")).cast("double").alias("slrd"))
        .join(F.broadcast(kdist.select(F.col("node").alias("vec_id"), "nk")), "vec_id")
        .join(F.broadcast(lrd.select(F.col("node").alias("vec_id"), F.col("lrd").alias("lrd_p"))), "vec_id")
        .select(
            "vec_id",
            F.col("nk").cast("bigint").alias("n_neighbors"),
            F.col("lrd_p").alias("lrd"),
            F.round(F.col("slrd") / F.col("nk") / F.col("lrd_p"), 6).alias("lof"),
        )
    )
    top = lof.orderBy(F.col("lof").desc(), "vec_id").limit(20)
    from pyspark.sql import Window as W2

    return top.select(
        "vec_id",
        "n_neighbors",
        "lrd",
        "lof",
        F.row_number()
        .over(W2.orderBy(F.col("lof").desc(), "vec_id"))
        .cast("int")
        .alias("rk"),
    )


def _adamic_adar_oracle_sql() -> str:
    knn = _knn_graph_oracle_sql()
    return f"""
WITH knn AS (SELECT * FROM ({knn}) q0),
und AS MATERIALIZED (
  SELECT DISTINCT LEAST(vec_id, neighbor_id) AS u,
                  GREATEST(vec_id, neighbor_id) AS v
  FROM knn
),
adj AS MATERIALIZED (
  SELECT u AS a, v AS b FROM und UNION ALL SELECT v AS a, u AS b FROM und
),
deg AS MATERIALIZED (
  SELECT a AS node, CAST(COUNT(*) AS BIGINT) AS d FROM adj GROUP BY a
),
cand AS (
  SELECT x.a AS u, y.b AS v, x.b AS w
  FROM adj x JOIN adj y ON y.a = x.b AND x.a < y.b
),
nonedge AS (
  SELECT c.u, c.v, c.w
  FROM cand c LEFT JOIN und e ON e.u = c.u AND e.v = c.v
  WHERE e.u IS NULL
),
scored AS (
  SELECT n.u, n.v,
         CAST(COUNT(*) AS BIGINT) AS cn,
         CAST(SUM(CAST(ROUND(1.0 / ln(d.d), 10) AS DECIMAL(14,10))) AS DOUBLE) AS aa
  FROM nonedge n JOIN deg d ON d.node = n.w
  GROUP BY n.u, n.v
)
SELECT s.u, s.v, s.cn,
       ROUND(s.aa, 6) AS adamic_adar,
       ROUND(s.cn / CAST(du.d + dv.d - s.cn AS DOUBLE), 6) AS jaccard,
       CAST(ROW_NUMBER() OVER (ORDER BY s.aa DESC, s.u, s.v) AS INT) AS rk
FROM scored s
JOIN deg du ON du.node = s.u
JOIN deg dv ON dv.node = s.v
QUALIFY rk <= 30
"""


@query("q297_adamic_adar", oracle=_adamic_adar_oracle_sql())
def q297_adamic_adar(spark, sf_dir):
    """LINK PREDICTION over the corpus kNN graph (Adamic-Adar /
    common-neighbors / Jaccard — the "which documents SHOULD be
    neighbors" score behind graph-densification and candidate
    recall for semantic dedup: a 2-hop pair with many shared
    neighbors is a near-dup the banding missed): for every
    non-adjacent 2-hop pair, common-neighbor count, Adamic-Adar
    sum 1/ln(deg(w)), and neighborhood Jaccard; top-30 ledger.

    Scale discipline: candidates come from ONE self-join of the
    adjacency list on the shared middle node — Sum(deg^2) pairs, never
    all-pairs; the anti-join back to the edge set and the degree
    probes are equi-joins on node id. deg(w) >= 2 for any common
    neighbor, so 1/ln(deg) is always finite; per-term round +
    DECIMAL sum keeps the <= deg-sized reductions order-free. The
    substrate is q146's adaptive-bits graph (pair count linear in
    corpus size)."""
    from variantcalling_spark.operators.similarity import adaptive_knn_graph

    emb = load_table(spark, sf_dir, "embeddings")
    und = (
        _knn3_adaptive(spark, sf_dir)
        .select(
            F.least("vec_id", "neighbor_id").alias("u"),
            F.greatest("vec_id", "neighbor_id").alias("v"),
        )
        .distinct()
        .transform(managed_persist)
    )
    adj = und.select(F.col("u").alias("a"), F.col("v").alias("b")).unionByName(
        und.select(F.col("v").alias("a"), F.col("u").alias("b"))
    ).transform(managed_persist)
    deg = adj.groupBy(F.col("a").alias("node")).agg(
        F.count(F.lit(1)).cast("bigint").alias("d")
    )
    cand = (
        adj.select(F.col("a").alias("u"), F.col("b").alias("w"))
        .join(
            adj.select(F.col("a").alias("w"), F.col("b").alias("v")),
            "w",
        )
        .where(F.col("u") < F.col("v"))
    )
    nonedge = cand.join(und, ["u", "v"], "left_anti")
    scored = (
        nonedge.join(
            F.broadcast(deg.select(F.col("node").alias("w"), "d")), "w"
        )
        .groupBy("u", "v")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("cn"),
            F.sum(
                F.round(F.lit(1.0) / F.log(F.col("d")), 10).cast("decimal(14,10)")
            )
            .cast("double")
            .alias("aa"),
        )
    )
    out = (
        scored.join(
            F.broadcast(deg.select(F.col("node").alias("u"), F.col("d").alias("du"))),
            "u",
        )
        .join(
            F.broadcast(deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))),
            "v",
        )
        .select(
            "u",
            "v",
            "cn",
            F.round(F.col("aa"), 6).alias("adamic_adar"),
            F.round(
                F.col("cn")
                / (F.col("du") + F.col("dv") - F.col("cn")).cast("double"),
                6,
            ).alias("jaccard"),
            F.col("aa").alias("_aa_raw"),
        )
    )
    top = out.orderBy(F.col("_aa_raw").desc(), "u", "v").limit(30)
    from pyspark.sql import Window as W2

    return top.select(
        "u",
        "v",
        "cn",
        "adamic_adar",
        "jaccard",
        F.row_number()
        .over(W2.orderBy(F.col("_aa_raw").desc(), "u", "v"))
        .cast("int")
        .alias("rk"),
    )


_MMR_LAM = 0.7
_MMR_STEPS = 4
_MMR_POOL = 12


def _mmr_oracle_sql() -> str:
    lam, om = repr(_MMR_LAM), repr(1.0 - _MMR_LAM)
    cos = (
        "list_dot_product({a}.v, {b}.v) / (sqrt(list_dot_product({a}.v, {a}.v))"
        " * sqrt(list_dot_product({b}.v, {b}.v)))"
    )
    parts = [
        f"""
WITH base AS MATERIALIZED (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * {QUANT}) AS BIGINT)) AS v
  FROM embeddings
),
qs AS MATERIALIZED (
  SELECT vec_id, v FROM base ORDER BY vec_id LIMIT 2
),
cands AS MATERIALIZED (
  SELECT query_id, cand_id, rel FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
           {cos.format(a='q', b='c')} AS rel,
           ROW_NUMBER() OVER (PARTITION BY q.vec_id
             ORDER BY {cos.format(a='q', b='c')} DESC, c.vec_id) AS rn
    FROM qs q JOIN base c ON c.vec_id <> q.vec_id
  ) WHERE rn <= {_MMR_POOL}
),
cv AS MATERIALIZED (
  SELECT c.query_id, c.cand_id, b.v
  FROM cands c JOIN base b ON b.vec_id = c.cand_id
),
sims AS MATERIALIZED (
  SELECT a.query_id, a.cand_id AS c1, b.cand_id AS c2,
         {cos.format(a='a', b='b')} AS sim
  FROM cv a JOIN cv b
    ON b.query_id = a.query_id AND b.cand_id <> a.cand_id
),
sel1 AS MATERIALIZED (
  SELECT query_id, cand_id, score, 1 AS step FROM (
    SELECT query_id, cand_id, ROUND({lam} * rel, 10) AS score,
           ROW_NUMBER() OVER (PARTITION BY query_id
             ORDER BY ROUND({lam} * rel, 10) DESC, cand_id) AS rn
    FROM cands
  ) WHERE rn = 1
)"""
    ]
    prev = "sel1"
    for t in range(2, _MMR_STEPS + 1):
        parts.append(
            f""",
s{t} AS MATERIALIZED (
  SELECT query_id, cand_id, score, {t} AS step FROM (
    SELECT query_id, cand_id, score,
           ROW_NUMBER() OVER (PARTITION BY query_id
             ORDER BY score DESC, cand_id) AS rn
    FROM (
      SELECT c.query_id, c.cand_id,
             ROUND({lam} * c.rel - {om} * MAX(sm.sim), 10) AS score
      FROM cands c
      JOIN {prev} sel ON sel.query_id = c.query_id
      JOIN sims sm ON sm.query_id = c.query_id
        AND sm.c1 = c.cand_id AND sm.c2 = sel.cand_id
      LEFT JOIN {prev} ex
        ON ex.query_id = c.query_id AND ex.cand_id = c.cand_id
      WHERE ex.cand_id IS NULL
      GROUP BY c.query_id, c.cand_id, c.rel
    )
  ) WHERE rn = 1
),
sel{t} AS MATERIALIZED (
  SELECT * FROM {prev} UNION ALL SELECT * FROM s{t}
)"""
        )
        prev = f"sel{t}"
    parts.append(
        f"""
SELECT s.query_id, CAST(s.step AS INT) AS step, s.cand_id,
       ROUND(c.rel, 6) AS rel, ROUND(s.score, 6) AS mmr_score
FROM {prev} s
JOIN cands c ON c.query_id = s.query_id AND c.cand_id = s.cand_id
"""
    )
    return "".join(parts)


@query("q304_mmr_rerank", oracle=_mmr_oracle_sql())
def q304_mmr_rerank(spark, sf_dir):
    """MAXIMAL MARGINAL RELEVANCE RE-RANKING (Carbonell-Goldstein 1998
    — the diversity re-rank every RAG retrieval stack bolts onto its
    top-k: greedily pick the candidate maximizing
    lambda*rel - (1-lambda)*max_sim_to_already_picked, so the context
    window carries non-redundant passages; the selection-time
    complement of q131's cluster representatives): 4 greedy picks at
    lambda=0.7 from each query's top-12 cosine pool.

    Scale discipline: the greedy recursion is bounded by the POOL, not
    the corpus — relevance scoring is the one corpus-sized pass (q68's
    broadcast-queries shape); the per-step argmax runs over <= 12
    candidate rows x <= 3 selected rows per query. The oracle unrolls
    the same 4 selection steps as materialized CTEs; cosines are exact
    integer dot products (bit-equal cross-engine) and scores snap to
    10 digits BEFORE each argmax so the pick itself, not just its
    value, is engine-identical. Per-step localCheckpoint per the q255
    iterative-lineage rule."""
    from pyspark.sql import Window as W2

    from variantcalling_spark.operators.similarity import _cosine_arrow

    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.select(
        "vec_id", _quantize(F.col("embedding")).alias("v")
    ).transform(managed_persist)
    qs = base.orderBy("vec_id").limit(2).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    lam, om = F.lit(_MMR_LAM), F.lit(1.0 - _MMR_LAM)
    cosfn = _cosine_arrow()
    scored = (
        base.crossJoin(F.broadcast(qs))
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("cand_id"),
            cosfn(F.col("qv"), F.col("v")).alias("rel"),
        )
    )
    wq = W2.partitionBy("query_id").orderBy(F.col("rel").desc(), "cand_id")
    cands = (
        scored.withColumn("rn", F.row_number().over(wq))
        .where(F.col("rn") <= _MMR_POOL)
        .select("query_id", "cand_id", "rel")
        .transform(managed_persist)
    )
    cv = cands.join(
        base.select(F.col("vec_id").alias("cand_id"), "v"), "cand_id"
    ).select("query_id", "cand_id", "v")
    b = cv.select(
        "query_id", F.col("cand_id").alias("c2"), F.col("v").alias("v2")
    )
    sims = (
        cv.join(b, "query_id")
        .where(F.col("cand_id") != F.col("c2"))
        .select(
            "query_id",
            F.col("cand_id").alias("c1"),
            "c2",
            cosfn(F.col("v"), F.col("v2")).alias("sim"),
        )
        .transform(managed_persist)
    )
    ws = W2.partitionBy("query_id").orderBy(F.col("score").desc(), "cand_id")
    sel = (
        cands.select(
            "query_id",
            "cand_id",
            F.round(lam * F.col("rel"), 10).alias("score"),
        )
        .withColumn("rn", F.row_number().over(ws))
        .where(F.col("rn") == 1)
        .select("query_id", "cand_id", "score", F.lit(1).alias("step"))
        .localCheckpoint(eager=True)
    )
    for t in range(2, _MMR_STEPS + 1):
        picked = (
            cands.join(sel.select("query_id", "cand_id"), ["query_id", "cand_id"], "left_anti")
            .join(
                sel.select("query_id", F.col("cand_id").alias("c2")), "query_id"
            )
            .join(
                sims.select("query_id", F.col("c1").alias("cand_id"), "c2", "sim"),
                ["query_id", "cand_id", "c2"],
            )
            .groupBy("query_id", "cand_id", "rel")
            .agg(F.max("sim").alias("maxsim"))
            .select(
                "query_id",
                "cand_id",
                F.round(lam * F.col("rel") - om * F.col("maxsim"), 10).alias(
                    "score"
                ),
            )
            .withColumn("rn", F.row_number().over(ws))
            .where(F.col("rn") == 1)
            .select("query_id", "cand_id", "score", F.lit(t).alias("step"))
        )
        sel = sel.unionByName(picked).localCheckpoint(eager=True)
    return sel.join(cands, ["query_id", "cand_id"]).select(
        "query_id",
        F.col("step").cast("int").alias("step"),
        "cand_id",
        F.round(F.col("rel"), 6).alias("rel"),
        F.round(F.col("score"), 6).alias("mmr_score"),
    )


def _assortativity_oracle_sql() -> str:
    knn = _knn_graph_oracle_sql()
    return f"""
WITH knn AS (SELECT * FROM ({knn}) q0),
und AS MATERIALIZED (
  SELECT DISTINCT LEAST(vec_id, neighbor_id) AS u,
                  GREATEST(vec_id, neighbor_id) AS v
  FROM knn
),
adj AS MATERIALIZED (
  SELECT u AS a, v AS b FROM und UNION ALL SELECT v AS a, u AS b FROM und
),
deg AS MATERIALIZED (
  SELECT a AS node, CAST(COUNT(*) AS BIGINT) AS d FROM adj GROUP BY a
),
ends AS (
  SELECT da.d AS x, db.d AS y
  FROM adj e JOIN deg da ON da.node = e.a JOIN deg db ON db.node = e.b
),
sums AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS m2,
         CAST(SUM(x) AS BIGINT) AS sx,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(x * y) AS BIGINT) AS sxy
  FROM ends
)
SELECT CAST(m2 / 2 AS BIGINT) AS n_edges,
       ROUND(CAST(sx AS DOUBLE) / m2, 4) AS mean_end_degree,
       ROUND((m2 * sxy - sx * sx)
             / CAST(m2 * sxx - sx * sx AS DOUBLE), 6) AS assortativity
FROM sums
"""


@query("q311_degree_assortativity", oracle=_assortativity_oracle_sql())
def q311_degree_assortativity(spark, sf_dir):
    """DEGREE ASSORTATIVITY of the corpus kNN graph (Newman 2002 — do
    well-connected documents neighbor other well-connected documents?
    Positive r = hub-clumping, the structure that makes centrality-
    weighted selection like q144 concentrate; negative r = hub-spoke.
    Completes the graph-structure panel: triangles q173, conductance
    q254, k-core q264): Pearson correlation of end degrees over every
    edge, both orientations (the symmetric-graph convention, which
    makes sigma_x = sigma_y and the formula one integer ratio).

    Scale discipline: two equi-joins decorate each edge with its end
    degrees; ALL moments are exact BIGINT sums (degrees are small
    integers), so r is a single division — no per-edge doubles
    anywhere."""
    from variantcalling_spark.operators.similarity import adaptive_knn_graph

    emb = load_table(spark, sf_dir, "embeddings")
    und = (
        _knn3_adaptive(spark, sf_dir)
        .select(
            F.least("vec_id", "neighbor_id").alias("u"),
            F.greatest("vec_id", "neighbor_id").alias("v"),
        )
        .distinct()
        .transform(managed_persist)
    )
    adj = und.select(F.col("u").alias("a"), F.col("v").alias("b")).unionByName(
        und.select(F.col("v").alias("a"), F.col("u").alias("b"))
    )
    deg = adj.groupBy(F.col("a").alias("node")).agg(
        F.count(F.lit(1)).cast("bigint").alias("d")
    )
    ends = (
        adj.join(F.broadcast(deg.select(F.col("node").alias("a"), F.col("d").alias("x"))), "a")
        .join(F.broadcast(deg.select(F.col("node").alias("b"), F.col("d").alias("y"))), "b")
        .select("x", "y")
    )
    sums = ends.agg(
        F.count(F.lit(1)).cast("bigint").alias("m2"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
    )
    m2, sx, sxx, sxy = F.col("m2"), F.col("sx"), F.col("sxx"), F.col("sxy")
    return sums.select(
        F.expr("m2 DIV 2").cast("bigint").alias("n_edges"),
        F.round(sx.cast("double") / m2, 4).alias("mean_end_degree"),
        F.round(
            (m2 * sxy - sx * sx) / (m2 * sxx - sx * sx).cast("double"), 6
        ).alias("assortativity"),
    )


_FL_STEPS = 4


def _facility_location_oracle_sql() -> str:
    knn = _knn_graph_oracle_sql()
    parts = [
        f"""
WITH knn AS (SELECT * FROM ({knn}) q0),
adj AS MATERIALIZED (
  SELECT DISTINCT a, b, sim FROM (
    SELECT vec_id AS a, neighbor_id AS b, cosine AS sim FROM knn
    UNION ALL
    SELECT neighbor_id AS a, vec_id AS b, cosine AS sim FROM knn
    UNION ALL
    SELECT vec_id AS a, vec_id AS b, 1.0 AS sim FROM embeddings
  )
),
best0 AS MATERIALIZED (
  SELECT vec_id AS node, 0.0 AS best FROM embeddings
)"""
    ]
    prev = "best0"
    for t in range(1, _FL_STEPS + 1):
        parts.append(
            f""",
g{t} AS MATERIALIZED (
  SELECT a.a AS c,
         CAST(SUM(CAST(ROUND(GREATEST(0, a.sim - b.best), 12)
                       AS DECIMAL(20,12))) AS DOUBLE) AS gain
  FROM adj a JOIN {prev} b ON b.node = a.b
  GROUP BY a.a
),
pick{t} AS MATERIALIZED (
  SELECT c AS node, gain FROM (
    SELECT c, gain,
           ROW_NUMBER() OVER (ORDER BY ROUND(gain, 10) DESC, c) AS rn
    FROM g{t}
  ) WHERE rn = 1
),
best{t} AS MATERIALIZED (
  SELECT b.node, GREATEST(b.best, COALESCE(pa.sim, -1)) AS best
  FROM {prev} b
  LEFT JOIN (
    SELECT a.b AS node, a.sim FROM adj a JOIN pick{t} p ON p.node = a.a
  ) pa ON pa.node = b.node
),
cov{t} AS MATERIALIZED (
  SELECT CAST(SUM(CAST(ROUND(best, 12) AS DECIMAL(18,12))) AS DOUBLE) AS cov
  FROM best{t}
)"""
        )
        prev = f"best{t}"
    selects = "\nUNION ALL\n".join(
        f"SELECT {t} AS step, p.node, ROUND(p.gain, 6) AS gain,"
        f" ROUND((SELECT cov FROM cov{t}), 6) AS coverage FROM pick{t} p"
        for t in range(1, _FL_STEPS + 1)
    )
    parts.append(f"\nSELECT CAST(step AS INT) AS step, node, gain, coverage FROM ({selects})\n")
    return "".join(parts)


@query("q308_facility_location", oracle=_facility_location_oracle_sql())
def q308_facility_location(spark, sf_dir):
    """SUBMODULAR FACILITY-LOCATION GREEDY SELECTION (the coreset /
    data-selection objective: pick k documents maximizing
    sum_v max_sim(v, selected) — Nemhauser greedy carries the 1-1/e
    guarantee; this is the corpus-COVERAGE complement of q304's
    query-relevance MMR and the selection-time twin of q108's
    SemDeDup pruning): 4 greedy picks over the kNN similarity graph
    with per-step marginal gain and cumulative coverage.

    Scale discipline: coverage is evaluated on the SPARSE kNN graph
    (plus self-edges), so each marginal-gain pass is one equi-join of
    the edge table against the |corpus|-row best-coverage vector and
    one map-side-combinable SUM — never a dense n^2 kernel; the
    best vector updates by a broadcast-sized join against the picked
    node's edges. Gains snap (12-dp terms, DECIMAL sums, 10-dp
    argmax) so every PICK is engine-identical; per-step
    localCheckpoint per the q255 rule."""
    from variantcalling_spark.operators.similarity import adaptive_knn_graph

    emb = load_table(spark, sf_dir, "embeddings")
    edges = _knn3_adaptive(spark, sf_dir)
    adj = (
        edges.select(
            F.col("vec_id").alias("a"),
            F.col("neighbor_id").alias("b"),
            F.col("cosine").alias("sim"),
        )
        .unionByName(
            edges.select(
                F.col("neighbor_id").alias("a"),
                F.col("vec_id").alias("b"),
                F.col("cosine").alias("sim"),
            )
        )
        .unionByName(
            emb.select(
                F.col("vec_id").alias("a"),
                F.col("vec_id").alias("b"),
                F.lit(1.0).alias("sim"),
            )
        )
        .distinct()
        .transform(managed_persist)
    )
    best = emb.select(F.col("vec_id").alias("node"), F.lit(0.0).alias("best"))
    best = best.localCheckpoint(eager=True)
    picks = []
    for t in range(1, _FL_STEPS + 1):
        g = (
            adj.join(best.withColumnRenamed("node", "b"), "b")
            .select(
                F.col("a").alias("c"),
                F.round(F.greatest(F.lit(0.0), F.col("sim") - F.col("best")), 12)
                .cast("decimal(20,12)")
                .alias("term"),
            )
            .groupBy("c")
            .agg(F.sum("term").cast("double").alias("gain"))
        )
        # argmax as ONE map-side-combinable aggregate (the LPA min-struct
        # trick): min(struct(-round(gain,10), c, gain)) orders identically
        # to the former global row_number window — highest snapped gain,
        # then smallest candidate id — without shuffling every candidate
        # row into one sorted partition per round (r11: 4 Exchange+Sort
        # pairs removed from the greedy loop)
        pick = (
            g.agg(
                F.min(
                    F.struct(
                        (-F.round(F.col("gain"), 10)).alias("ng"),
                        F.col("c").alias("node"),
                        F.col("gain").alias("gain"),
                    )
                ).alias("top")
            )
            .select(F.col("top.node").alias("node"), F.col("top.gain").alias("gain"))
            .localCheckpoint(eager=True)
        )
        pa = adj.join(
            pick.select(F.col("node").alias("a")), "a"
        ).select(F.col("b").alias("node"), "sim")
        best = (
            best.join(pa, "node", "left")
            .select(
                "node",
                F.greatest(
                    F.col("best"), F.coalesce(F.col("sim"), F.lit(-1.0))
                ).alias("best"),
            )
            .localCheckpoint(eager=True)
        )
        cov = best.agg(
            F.round(
                F.sum(F.round(F.col("best"), 12).cast("decimal(18,12)")).cast(
                    "double"
                ),
                6,
            ).alias("coverage")
        )
        picks.append(
            pick.crossJoin(F.broadcast(cov)).select(
                F.lit(t).cast("int").alias("step"),
                "node",
                F.round(F.col("gain"), 6).alias("gain"),
                "coverage",
            )
        )
    out = picks[0]
    for p in picks[1:]:
        out = out.unionByName(p)
    return out


_JL_DIMS = 16
_JL_SRC_DIM = 64


def _jl_oracle_sql() -> str:
    from variantcalling_spark.operators.similarity import _plane_signs

    signs = _plane_signs(_JL_DIMS, _JL_SRC_DIM)

    def plane_vec(p: int) -> str:
        return "[" + ",".join(f"{signs[d][p]:.1f}" for d in range(_JL_SRC_DIM)) + "]"

    projs = ",\n         ".join(
        f"CAST(list_dot_product(vd, {plane_vec(p)}) AS BIGINT) AS y{p}"
        for p in range(_JL_DIMS)
    )
    dproj = " + ".join(
        f"(a.y{p} - b.y{p}) * (a.y{p} - b.y{p})" for p in range(_JL_DIMS)
    )
    return f"""
WITH base AS MATERIALIZED (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * {QUANT}) AS BIGINT)) AS v
  FROM embeddings
),
proj AS MATERIALIZED (
  SELECT vec_id, v,
         {projs}
  FROM (SELECT vec_id, v, list_transform(v, x -> CAST(x AS DOUBLE)) AS vd FROM base)
),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         CAST(list_dot_product(
           list_transform(list_zip(a.v, b.v), t -> CAST(t[1] - t[2] AS DOUBLE)),
           list_transform(list_zip(a.v, b.v), t -> CAST(t[1] - t[2] AS DOUBLE))
         ) AS BIGINT) AS orig_sq,
         CAST({dproj} AS BIGINT) AS proj_sq
  FROM proj a JOIN proj b ON b.vec_id = a.vec_id + 1
  WHERE a.vec_id % 2 = 0
)
SELECT id_a, id_b, orig_sq,
       ROUND(proj_sq / {float(_JL_DIMS)!r}, 4) AS proj_sq_scaled,
       ROUND(proj_sq / ({float(_JL_DIMS)!r} * orig_sq), 6) AS distortion
FROM pairs
WHERE orig_sq > 0
"""


@query("q320_jl_projection", oracle=_jl_oracle_sql())
def q320_jl_projection(spark, sf_dir):
    """JOHNSON-LINDENSTRAUSS +-1 RANDOM PROJECTION (64 -> 16 dims)
    with a distance-preservation audit — the dimensionality-reduction
    slot beside the SQ8 scalar quantizer (q216) and PQ codebooks
    (q121): project every embedding through the deterministic
    splitmix +-1 plane matrix the LSH family already uses, then for
    consecutive-id pairs compare projected squared distance / k
    against the original squared distance (E[ratio] = 1 — the JL
    lemma made executable).

    Scale discipline: the projection is a per-row integer dot-product
    fold (zero shuffle, exact bigints since inputs are quantized
    ints); the audit joins consecutive ids (equi-join on id+1). Both
    distances are exact integers; the two ratios are single rounded
    divisions."""
    from variantcalling_spark.operators.similarity import _plane_signs

    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.select("vec_id", _quantize(F.col("embedding")).alias("v"))
    signs = _plane_signs(_JL_DIMS, _JL_SRC_DIM)
    proj_cols = [
        F.aggregate(
            F.zip_with(
                F.col("v"),
                F.array(*[F.lit(signs[d][p]) for d in range(_JL_SRC_DIM)]),
                lambda x, s: x.cast("double") * s,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        .cast("bigint")
        .alias(f"y{p}")
        for p in range(_JL_DIMS)
    ]
    proj = base.select("vec_id", "v", *proj_cols).transform(managed_persist)
    a = proj.where(F.col("vec_id") % 2 == 0).select(
        F.col("vec_id").alias("id_a"),
        F.col("v").alias("va"),
        *[F.col(f"y{p}").alias(f"a{p}") for p in range(_JL_DIMS)],
    )
    b = proj.select(
        (F.col("vec_id") - 1).alias("id_a"),
        F.col("vec_id").alias("id_b"),
        F.col("v").alias("vb"),
        *[F.col(f"y{p}").alias(f"b{p}") for p in range(_JL_DIMS)],
    )
    joined = a.join(b, "id_a")
    diff = F.zip_with(F.col("va"), F.col("vb"), lambda x, y: (x - y).cast("double"))
    orig_sq = (
        F.aggregate(diff, F.lit(0.0), lambda acc, d: acc + d * d)
        .cast("bigint")
        .alias("orig_sq")
    )
    proj_sq_expr = None
    for p in range(_JL_DIMS):
        term = (F.col(f"a{p}") - F.col(f"b{p}")) * (F.col(f"a{p}") - F.col(f"b{p}"))
        proj_sq_expr = term if proj_sq_expr is None else proj_sq_expr + term
    pairs = joined.select(
        "id_a", "id_b", orig_sq, proj_sq_expr.cast("bigint").alias("proj_sq")
    ).where(F.col("orig_sq") > 0)
    k = float(_JL_DIMS)
    return pairs.select(
        "id_a",
        "id_b",
        "orig_sq",
        F.round(F.col("proj_sq") / F.lit(k), 4).alias("proj_sq_scaled"),
        F.round(F.col("proj_sq") / (F.lit(k) * F.col("orig_sq")), 6).alias(
            "distortion"
        ),
    )


_RBO_P = 0.9
_RBO_K = 10


def _rbo_oracle_sql(n_planes: int = 16, prefix_bits: int = 6, dim: int = 64) -> str:
    from variantcalling_spark.operators.similarity import _plane_signs

    signs = _plane_signs(n_planes, dim)

    def plane_vec(p):
        return "[" + ",".join(f"{signs[d][p]:.1f}" for d in range(dim)) + "]"

    sums = ",\n         ".join(
        f"list_dot_product(vd, {plane_vec(p)}) AS s{p}" for p in range(prefix_bits)
    )
    bucket = " + ".join(
        f"(CASE WHEN s{p} > 0 THEN {2**p} ELSE 0 END)" for p in range(prefix_bits)
    )
    lnp = f"ln(CAST({_RBO_P!r} AS DOUBLE))"
    return f"""
WITH base AS MATERIALIZED (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * {QUANT}) AS BIGINT)) AS v
  FROM embeddings
),
ex AS MATERIALIZED (
  SELECT query_id, cand_id, rank FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
           CAST(ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
             list_dot_product(q.v, c.v)
               / (sqrt(list_dot_product(q.v, q.v))
                  * sqrt(list_dot_product(c.v, c.v))) DESC, c.vec_id) AS INT)
             AS rank
    FROM base q JOIN base c ON c.vec_id <> q.vec_id
    WHERE q.vec_id < 5
  ) WHERE rank <= {_RBO_K}
),
sig AS MATERIALIZED (
  SELECT vec_id, v,
         {sums}
  FROM (SELECT vec_id, v, list_transform(v, x -> CAST(x AS DOUBLE)) AS vd FROM base)
),
bk AS MATERIALIZED (SELECT vec_id, v, {bucket} AS bucket FROM sig),
ap AS MATERIALIZED (
  SELECT query_id, cand_id, rank FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
           CAST(ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
             list_dot_product(q.v, c.v)
               / (sqrt(list_dot_product(q.v, q.v))
                  * sqrt(list_dot_product(c.v, c.v))) DESC, c.vec_id) AS INT)
             AS rank
    FROM bk q JOIN bk c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
    WHERE q.vec_id < 5
  ) WHERE rank <= {_RBO_K}
),
items AS MATERIALIZED (
  SELECT COALESCE(e.query_id, a.query_id) AS qid,
         COALESCE(e.cand_id, a.cand_id) AS cid,
         e.rank AS ra, a.rank AS rb
  FROM ex e FULL OUTER JOIN ap a
    ON a.query_id = e.query_id AND a.cand_id = e.cand_id
),
depths AS (SELECT unnest(generate_series(1, {_RBO_K})) AS d),
ov AS (
  SELECT i.qid, dp.d,
         CAST(SUM(CASE WHEN i.ra <= dp.d AND i.rb <= dp.d THEN 1 ELSE 0 END)
              AS BIGINT) AS o
  FROM items i CROSS JOIN depths dp
  GROUP BY i.qid, dp.d
)
SELECT qid AS query_id,
       CAST(MAX(CASE WHEN d = {_RBO_K} THEN o END) AS BIGINT) AS overlap_at_k,
       ROUND((1 - CAST({_RBO_P!r} AS DOUBLE))
             * CAST(SUM(CAST(ROUND(exp((d - 1) * {lnp}) * o / d, 10)
                             AS DECIMAL(16,10))) AS DOUBLE), 6) AS rbo
FROM ov GROUP BY qid
"""


@query("q328_rank_biased_overlap", oracle=_rbo_oracle_sql())
def q328_rank_biased_overlap(spark, sf_dir):
    """RANK-BIASED OVERLAP (Webber 2010 — the top-weighted ranking
    similarity IR uses where Kendall/Spearman over-weight the tail)
    between the EXACT cosine top-10 and the LSH-ANN top-10 per query:
    where q217's recall@10 counts set membership, RBO grades whether
    the approximation preserves the ORDER the user actually sees,
    geometric weight p=0.9 per depth.

    Scale discipline: both arms are the existing bounded-query-sample
    top-k paths; the RBO join is (queries x k) x 10-depth-spine sized.
    Overlap counts are exact integers; per-depth terms snap at 10 into
    a DECIMAL sum; p^(d-1) is the exp/ln shared-libm composition."""
    from variantcalling_spark.operators.similarity import cosine_topk, lsh_cosine_topk

    emb = load_table(spark, sf_dir, "embeddings").transform(managed_persist)
    queries = emb.where(F.col("vec_id") < 5)
    ex = cosine_topk(queries, emb, k=_RBO_K).select(
        "query_id", "cand_id", F.col("rank").alias("ra")
    )
    ap = lsh_cosine_topk(queries, emb, k=_RBO_K, n_planes=16, prefix_bits=6).select(
        "query_id", "cand_id", F.col("rank").alias("rb")
    )
    items = ex.join(ap, ["query_id", "cand_id"], "full_outer").select(
        F.col("query_id").alias("qid"), "ra", "rb"
    )
    depths = spark.range(1, _RBO_K + 1).select(F.col("id").alias("d"))
    ov = (
        items.crossJoin(F.broadcast(depths))
        .groupBy("qid", "d")
        .agg(
            F.sum(
                F.when(
                    (F.col("ra") <= F.col("d")) & (F.col("rb") <= F.col("d")), 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("o")
        )
    )
    lnp = F.log(F.lit(_RBO_P).cast("double"))
    term = F.round(
        F.exp((F.col("d") - 1) * lnp) * F.col("o") / F.col("d"), 10
    ).cast("decimal(16,10)")
    return ov.groupBy(F.col("qid").alias("query_id")).agg(
        F.max(F.when(F.col("d") == _RBO_K, F.col("o")))
        .cast("bigint")
        .alias("overlap_at_k"),
        F.round(
            (1 - F.lit(_RBO_P)) * F.sum(term).cast("double"), 6
        ).alias("rbo"),
    )


@query(
    "q330_ecod_outliers",
    oracle=f"""
WITH base AS MATERIALIZED (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * {QUANT}) AS BIGINT)) AS v
  FROM embeddings
),
n AS MATERIALIZED (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM base),
cells AS MATERIALIZED (
  SELECT vec_id, d, v[d + 1] AS x
  FROM base, unnest(generate_series(0, 63)) AS t(d)
),
rk AS (
  SELECT vec_id, d,
         RANK() OVER (PARTITION BY d ORDER BY x) AS rmin,
         COUNT(*) OVER (PARTITION BY d, x) AS tc
  FROM cells
),
terms AS (
  SELECT vec_id,
         ROUND(-ln(LEAST(
           (rmin + tc - 1) / CAST((SELECT n FROM n) AS DOUBLE),
           ((SELECT n FROM n) - rmin + 1) / CAST((SELECT n FROM n) AS DOUBLE)
         )), 10) AS term
  FROM rk
),
scored AS (
  SELECT vec_id,
         ROUND(CAST(SUM(CAST(term AS DECIMAL(20,10))) AS DOUBLE), 6) AS ecod
  FROM terms GROUP BY vec_id
)
SELECT vec_id, ecod,
       CAST(ROW_NUMBER() OVER (ORDER BY ecod DESC, vec_id) AS INT) AS rk
FROM scored QUALIFY rk <= 20
""",
)
def q330_ecod_outliers(spark, sf_dir):
    """ECOD OUTLIER SCORES (Li 2022 — the parameter-free empirical-CDF
    outlier detector: a point is anomalous if it sits in the tail of
    MANY coordinates at once; the DISTRIBUTIONAL complement of q294's
    density-based LOF and q235's isotropy audit): per dimension, the
    two-sided empirical tail probability min(F(x), 1-F(x)); score =
    sum of -ln(tail) over 64 dimensions; top-20 ledger.

    Scale discipline: the corpus explodes to (dimension, value) cells
    — DIMENSION-bounded fan-out (64x) — and each dimension ranks
    independently (one window per dim partition; at 100 TB each dim's
    sort distributes on its own key). Tie-exact CDFs from integer
    rank+tie-count; tails bounded below by 1/n so ln never sees 0;
    10-dp terms into DECIMAL sums."""
    from pyspark.sql import Window as W2

    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.select("vec_id", _quantize(F.col("embedding")).alias("v"))
    n = base.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    cells = base.select(
        "vec_id", F.posexplode("v").alias("d", "x")
    )
    rk = cells.select(
        "vec_id",
        F.rank().over(W2.partitionBy("d").orderBy("x")).alias("rmin"),
        F.count(F.lit(1)).over(W2.partitionBy("d", "x")).alias("tc"),
    )
    nn = F.col("n").cast("double")
    terms = rk.crossJoin(F.broadcast(n)).select(
        "vec_id",
        F.round(
            -F.log(
                F.least(
                    (F.col("rmin") + F.col("tc") - 1) / nn,
                    (F.col("n") - F.col("rmin") + 1) / nn,
                )
            ),
            10,
        ).alias("term"),
    )
    scored = terms.groupBy("vec_id").agg(
        F.round(
            F.sum(F.col("term").cast("decimal(20,10)")).cast("double"), 6
        ).alias("ecod")
    )
    top = scored.orderBy(F.col("ecod").desc(), "vec_id").limit(20)
    return top.select(
        "vec_id",
        "ecod",
        F.row_number()
        .over(W2.orderBy(F.col("ecod").desc(), "vec_id"))
        .cast("int")
        .alias("rk"),
    )


_MB_BANDS, _MB_BITS = 12, 6


def _multiband_sql_parts(n_bands: int, band_bits: int, dim: int = 64):
    """Shared SQL fragments for the multi-band LSH oracles: the plane
    projection list and a bands CTE body (one UNION ALL arm per band,
    key = LSB-first packed sign bits — _band_slices_arrow parity)."""
    from variantcalling_spark.operators.similarity import _plane_signs

    n_planes = n_bands * band_bits
    signs = _plane_signs(n_planes, dim)

    def plane_vec(p):
        return "[" + ",".join(f"{signs[d][p]:.1f}" for d in range(dim)) + "]"

    sums = ",\n         ".join(
        f"list_dot_product(vd, {plane_vec(p)}) AS s{p}" for p in range(n_planes)
    )
    arms = []
    for b in range(n_bands):
        key = " + ".join(
            f"(CASE WHEN s{b * band_bits + j} > 0 THEN {2**j} ELSE 0 END)"
            for j in range(band_bits)
        )
        arms.append(f"SELECT vec_id, v, {b} AS band_ix, {key} AS key FROM sig")
    return sums, "\n  UNION ALL\n  ".join(arms)


def _multiband_ann_oracle_sql(
    n_bands: int = _MB_BANDS, band_bits: int = _MB_BITS,
    dim: int = 64, k: int = 10, n_queries: int = 5,
) -> str:
    sums, arms = _multiband_sql_parts(n_bands, band_bits, dim)
    return f"""
WITH base AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * {QUANT}) AS BIGINT)) AS v
  FROM embeddings
),
sig AS (
  SELECT vec_id, v,
         {sums}
  FROM (SELECT vec_id, v, list_transform(v, x -> CAST(x AS DOUBLE)) AS vd FROM base)
),
bands AS (
  {arms}
),
cand AS (
  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS cand_id
  FROM bands q JOIN bands c
    ON q.band_ix = c.band_ix AND q.key = c.key AND q.vec_id <> c.vec_id
  WHERE q.vec_id < {n_queries}
),
scored AS (
  SELECT cand.query_id, cand.cand_id,
         list_dot_product(q.v, c.v)
           / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))) AS cosine
  FROM cand
  JOIN base q ON q.vec_id = cand.query_id
  JOIN base c ON c.vec_id = cand.cand_id
)
SELECT query_id, cand_id, cosine, rank FROM (
  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, cand_id) AS INT) AS rank
  FROM scored
) WHERE rank <= {k}
"""


@query("q374_multiband_ann", oracle=_multiband_ann_oracle_sql())
def q374_multiband_ann(spark, sf_dir):
    """MULTI-BAND (OR-amplified) LSH ANN — the recall dial the q217
    harness showed the single-prefix path (q69) lacks on
    low-neighborhood-contrast embeddings (recall@10 0.07 at sf0.1):
    12 independent 6-bit sign bands, candidate = collide in ANY band,
    exact cosine re-rank of the deduped union. Same engine-exactness
    as q69 (quantized integer projections, full tie-breaks), so the
    whole top-10 is value-checked, not statistically eyeballed.

    Scale shape: band keys in one Arrow pass; per-band equi-joins;
    ONE distinct shuffle over collision pairs sized by
    |queries| x corpus x (1-(1-2^-6)^12) ≈ 17%; the bounded query
    side broadcasts for re-ranking. Measured recall/cost curves at
    sf0.1 and 10x live in SCALE.md (r7)."""
    from variantcalling_spark.operators.similarity import multiband_cosine_topk

    emb = load_table(spark, sf_dir, "embeddings").transform(managed_persist)
    return multiband_cosine_topk(
        emb.where(F.col("vec_id") < 5), emb,
        k=10, n_bands=_MB_BANDS, band_bits=_MB_BITS,
    )


def _multiband_recall_oracle_sql(
    n_bands: int = _MB_BANDS, band_bits: int = _MB_BITS,
    dim: int = 64, k: int = 10, n_queries: int = 40,
) -> str:
    sums, arms = _multiband_sql_parts(n_bands, band_bits, dim)
    return f"""
WITH base AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * {QUANT}) AS BIGINT)) AS v
  FROM embeddings
),
ex AS (
  SELECT query_id, cand_id FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
           CAST(ROW_NUMBER() OVER (
             PARTITION BY q.vec_id
             ORDER BY list_dot_product(q.v, c.v)
                      / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))) DESC,
                      c.vec_id) AS INT) AS rank
    FROM base q JOIN base c ON q.vec_id <> c.vec_id
    WHERE q.vec_id < {n_queries}
  ) WHERE rank <= {k}
),
sig AS (
  SELECT vec_id, v,
         {sums}
  FROM (SELECT vec_id, v, list_transform(v, x -> CAST(x AS DOUBLE)) AS vd FROM base)
),
bands AS (
  {arms}
),
cand AS (
  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS cand_id
  FROM bands q JOIN bands c
    ON q.band_ix = c.band_ix AND q.key = c.key AND q.vec_id <> c.vec_id
  WHERE q.vec_id < {n_queries}
),
ap AS (
  SELECT query_id, cand_id FROM (
    SELECT cand.query_id, cand.cand_id,
           CAST(ROW_NUMBER() OVER (
             PARTITION BY cand.query_id
             ORDER BY list_dot_product(q.v, c.v)
                      / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))) DESC,
                      cand.cand_id) AS INT) AS rank
    FROM cand
    JOIN base q ON q.vec_id = cand.query_id
    JOIN base c ON c.vec_id = cand.cand_id
  ) WHERE rank <= {k}
)
SELECT ex.query_id,
       COUNT(*) AS n_exact,
       CAST(COALESCE(MAX(r.n_retrieved), 0) AS BIGINT) AS n_retrieved,
       CAST(SUM(CASE WHEN ap.cand_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
       ROUND(SUM(CASE WHEN ap.cand_id IS NOT NULL THEN 1 ELSE 0 END) / CAST({k} AS DOUBLE), 6)
         AS recall_at_k
FROM ex
LEFT JOIN ap ON ap.query_id = ex.query_id AND ap.cand_id = ex.cand_id
LEFT JOIN (SELECT query_id, COUNT(*) AS n_retrieved FROM ap GROUP BY query_id) r
  ON r.query_id = ex.query_id
GROUP BY ex.query_id
"""


@query("q375_ann_recall_multiband", oracle=_multiband_recall_oracle_sql())
def q375_ann_recall_multiband(spark, sf_dir):
    """q217's recall@10 harness pointed at the MULTI-BAND path (q374):
    the measurement that justified adding the OR-amplification dial —
    recall@10 0.07 (single 6-bit prefix) -> ~0.49 (12x6-bit bands) at
    sf0.1, at a measured ~17% candidate fraction (vs 1.6% single-band);
    SCALE.md (r7) records the curve incl. the 10x point and the IVF
    nprobe alternative. Same exact-join ledger as q217, so both
    harness rows certify against their SQL twins."""
    from variantcalling_spark.operators.similarity import multiband_cosine_topk

    emb = load_table(spark, sf_dir, "embeddings").transform(managed_persist)
    queries = emb.where(F.col("vec_id") < 40)
    k = 10
    from variantcalling_spark.operators.similarity import cosine_topk

    ex = cosine_topk(queries, emb, k=k).select("query_id", "cand_id")
    ap = multiband_cosine_topk(
        queries, emb, k=k, n_bands=_MB_BANDS, band_bits=_MB_BITS
    ).select("query_id", F.col("cand_id").alias("ap_cand"))
    ap = ap.transform(managed_persist)
    retr = ap.groupBy("query_id").agg(cnt("n_retrieved"))
    hits = ex.join(
        ap,
        (ex.query_id == ap.query_id) & (ex.cand_id == ap.ap_cand),
        "left",
    ).select(ex.query_id.alias("qid"), "cand_id", "ap_cand")
    return (
        hits.groupBy("qid")
        .agg(
            cnt("n_exact"),
            F.sum(F.when(F.col("ap_cand").isNotNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_hit"),
        )
        .join(retr, F.col("qid") == retr.query_id, "left")
        .select(
            F.col("qid").alias("query_id"),
            "n_exact",
            F.coalesce(F.col("n_retrieved"), F.lit(0)).cast("bigint").alias("n_retrieved"),
            "n_hit",
            F.round(F.col("n_hit") / F.lit(float(k)), 6).alias("recall_at_k"),
        )
    )


@query(
    "q392_ivf_recall_eval",
    oracle="""
SELECT * FROM (VALUES
  (CAST(2 AS INT), CAST(400 AS BIGINT), CAST(180 AS BIGINT), CAST(0.45 AS DOUBLE)),
  (CAST(4 AS INT), CAST(400 AS BIGINT), CAST(277 AS BIGINT), CAST(0.6925 AS DOUBLE)),
  (CAST(8 AS INT), CAST(400 AS BIGINT), CAST(355 AS BIGINT), CAST(0.8875 AS DOUBLE))
) AS t(nprobe, n_exact, n_hit, recall_at_10)
""",
)
def q392_ivf_recall_eval(spark, sf_dir):
    """IVF RECALL@10 SWEEP (the third leg of the ANN-quality harness:
    q217 grades the single-band LSH path, q375 the multi-band path,
    this grades q71's IVF substrate across nprobe=2/4/8 of 16 cells —
    the table tools/recall_at_scale.py measures at sf0.1/10x,
    formalized as an oracled query at sf0.01): pooled recall of the
    IVF arm against the exact top-10 over a 40-query sample.

    Oracle form: seeded Spark-ML KMeans routing is reproducible but
    not SQL-derivable, so the sf0.01 sweep is pinned as a literal
    VALUES oracle (verified identical on local[8]/local[32] — the q71
    pinning pattern and its engine-upgrade caveat). Scale shape: the
    exact arm broadcasts the bounded query sample; each probe level
    reuses ONE index build (cells partition-prunable at 100 TB)."""
    from variantcalling_spark.operators.similarity import (
        cosine_topk,
        ivf_cosine_topk,
        ivf_index,
    )

    emb = load_table(spark, sf_dir, "embeddings").transform(managed_persist)
    q = emb.where(F.col("vec_id") < 40)
    ex = cosine_topk(q, emb, k=10).select("query_id", "cand_id")
    ex = ex.transform(managed_persist)
    centroids, indexed = _ivf16_index(spark, sf_dir)
    indexed = indexed.transform(managed_persist)
    out = None
    for nprobe in (2, 4, 8):
        ap = ivf_cosine_topk(q, indexed, centroids, k=10, nprobe=nprobe).select(
            "query_id", F.col("cand_id").alias("ac")
        )
        hit = ex.join(
            ap,
            (ex.query_id == ap.query_id) & (ex.cand_id == ap.ac),
            "left",
        )
        row = hit.agg(
            F.lit(nprobe).cast("int").alias("nprobe"),
            F.count(F.lit(1)).cast("bigint").alias("n_exact"),
            F.sum(F.when(F.col("ac").isNotNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_hit"),
            F.round(
                F.sum(F.when(F.col("ac").isNotNull(), 1).otherwise(0))
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("recall_at_10"),
        )
        out = row if out is None else out.unionByName(row)
    return out


_KC_K = 5


def _kcenter_oracle_sql(k: int = _KC_K) -> str:
    """Greedy k-center unrolled: step i's center is the point with the
    MAX distance to its nearest already-chosen center (tie-break
    vec_id); every distance is an exact BIGINT squared-L2 over
    quantized vectors."""
    d2 = (
        "(list_dot_product(a.v, a.v) - 2 * list_dot_product(a.v, c.v)"
        " + list_dot_product(c.v, c.v))"
    )
    parts = [f"""
base AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * {QUANT}) AS BIGINT)) AS v
  FROM embeddings
),
d1 AS (
  SELECT a.vec_id, CAST({d2} AS BIGINT) AS dmin
  FROM base a JOIN base c ON c.vec_id = 0
)"""]
    for i in range(2, k + 1):
        parts.append(f"""
s{i} AS (
  SELECT vec_id AS cid, dmin AS sel FROM d{i - 1}
  ORDER BY dmin DESC, vec_id LIMIT 1
),
d{i} AS (
  SELECT a.vec_id,
         LEAST(d{i - 1}.dmin, CAST({d2} AS BIGINT)) AS dmin
  FROM base a
  JOIN d{i - 1} ON d{i - 1}.vec_id = a.vec_id
  JOIN base c ON c.vec_id = (SELECT cid FROM s{i})
)""")
    rows = ["SELECT 1 AS step, CAST(0 AS BIGINT) AS center_id, CAST(0 AS BIGINT) AS sel_d2"]
    for i in range(2, k + 1):
        rows.append(
            f"SELECT {i}, CAST((SELECT cid FROM s{i}) AS BIGINT),"
            f" CAST((SELECT sel FROM s{i}) AS BIGINT)"
        )
    final = "\nUNION ALL\n".join(rows)
    return f"""
WITH {",".join(parts)},
radius AS (SELECT CAST(MAX(dmin) AS BIGINT) AS r FROM d{k})
SELECT t.step, t.center_id, t.sel_d2, radius.r AS radius_after_k
FROM ({final}) t CROSS JOIN radius
"""


@query("q395_kcenter_coreset", oracle=_kcenter_oracle_sql())
def q395_kcenter_coreset(spark, sf_dir):
    """GREEDY K-CENTER CORESET (farthest-first traversal — the
    coverage-maximizing data-pruning selector: pick the point farthest
    from everything already kept, k times; the geometric dual of q308's
    facility-location GAIN greedy, and the selection rule behind
    coverage-first curation): 5 centers over the embedding corpus,
    each step's selection distance, and the realized covering radius.

    Exactness: squared-L2 over quantized integer vectors is BIGINT;
    the argmax is a TakeOrdered heap-select with vec_id tie-break; the
    oracle unrolls the identical 5 steps. Scale discipline: one dmin
    column maintained per point (LEAST-updated per round via one
    broadcast of the single new center), k bounded driver scalars —
    the Lloyd's/EM driver-state pattern; never a pairwise matrix."""
    from variantcalling_spark.operators.similarity import _quantize

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", _quantize(F.col("embedding")).alias("v")
    ).transform(managed_persist)

    def d2_to(center_v):
        return F.expr(
            "aggregate(zip_with(v, c_v, (x, y) -> (x - y) * (x - y)),"
            " CAST(0 AS BIGINT), (acc, t) -> acc + t)"
        )

    rows = [(1, 0, 0)]
    cur = (
        emb.crossJoin(
            F.broadcast(
                emb.where(F.col("vec_id") == 0).select(F.col("v").alias("c_v"))
            )
        )
        .select("vec_id", "v", d2_to(None).alias("dmin"))
        .transform(managed_persist)
    )
    for step in range(2, _KC_K + 1):
        sel = cur.orderBy(F.col("dmin").desc(), "vec_id").limit(1).collect()[0]
        rows.append((step, int(sel.vec_id), int(sel.dmin)))
        cv = emb.where(F.col("vec_id") == sel.vec_id).select(
            F.col("v").alias("c_v")
        )
        cur = (
            cur.crossJoin(F.broadcast(cv))
            .select(
                "vec_id",
                "v",
                F.least(F.col("dmin"), d2_to(None)).alias("dmin"),
            )
            .transform(managed_persist)
        )
    radius = cur.agg(F.max("dmin").cast("bigint").alias("r")).collect()[0].r
    return spark.createDataFrame(
        [(s, c, d, int(radius)) for s, c, d in rows],
        "step int, center_id bigint, sel_d2 bigint, radius_after_k bigint",
    )


_SSSP_ROUNDS = 4


def _knn_scored_cte_sql(prefix_bits: int = 6, dim: int = 64) -> str:
    """WITH-fragment building the ALL in-bucket directed candidate
    relation ``scored(vec_id, neighbor_id, cosine)`` (quantized
    vectors, hyperplane bucket, exact in-bucket cosine) — the SQL twin
    of ``bucketed_cosine_candidates``; ``_knn_edges_cte_sql`` trims it
    to the top-k edge table, the mutual-proximity oracle re-ranks it."""
    from variantcalling_spark.operators.similarity import _plane_signs

    signs = _plane_signs(prefix_bits, dim)

    def plane_vec(p):
        return "[" + ",".join(f"{signs[d][p]:.1f}" for d in range(dim)) + "]"

    sums = ",\n         ".join(
        f"list_dot_product(vd, {plane_vec(p)}) AS s{p}" for p in range(prefix_bits)
    )
    bucket = " + ".join(
        f"(CASE WHEN s{p} > 0 THEN {2**p} ELSE 0 END)" for p in range(prefix_bits)
    )
    return f"""base AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * {QUANT}) AS BIGINT)) AS v
  FROM embeddings
),
sig AS (
  SELECT vec_id, v,
         {sums}
  FROM (SELECT vec_id, v, list_transform(v, x -> CAST(x AS DOUBLE)) AS vd FROM base)
),
bk AS (SELECT vec_id, v, {bucket} AS bucket FROM sig),
scored AS (
  SELECT a.vec_id AS vec_id, c.vec_id AS neighbor_id,
         list_dot_product(a.v, c.v)
           / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(c.v, c.v))) AS cosine
  FROM bk a JOIN bk c ON a.bucket = c.bucket AND a.vec_id <> c.vec_id
)"""


def _knn_edges_cte_sql(prefix_bits: int = 6, dim: int = 64, k: int = 3) -> str:
    """WITH-fragment building the kNN edge table ``e(vec_id,
    neighbor_id, w)`` — the q132/q405 substrate (quantized vectors,
    hyperplane bucket, in-bucket cosine top-k, integer edge weight
    round((1-cosine)*1e6)) — shared by every graph-family oracle so
    Spark's ``knn_graph`` has ONE SQL twin."""
    return f"""{_knn_scored_cte_sql(prefix_bits, dim)},
e AS MATERIALIZED (
  SELECT vec_id, neighbor_id,
         CAST(ROUND((1.0 - cosine) * 1000000) AS BIGINT) AS w
  FROM (
    SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
    FROM scored
  ) WHERE rank <= {k}
)"""


def _sssp_oracle_sql(prefix_bits: int = 6, dim: int = 64, k: int = 3) -> str:
    rounds = []
    for r in range(1, _SSSP_ROUNDS + 1):
        p = r - 1
        rounds.append(f"""
d{r} AS (
  SELECT node, MIN(dist) AS dist FROM (
    SELECT node, dist FROM d{p}
    UNION ALL
    SELECT e.neighbor_id AS node, d{p}.dist + e.w AS dist
    FROM d{p} JOIN e ON e.vec_id = d{p}.node
  ) GROUP BY node
)""")
    return f"""
WITH {_knn_edges_cte_sql(prefix_bits, dim, k)},
d0 AS (SELECT CAST(0 AS BIGINT) AS node, CAST(0 AS BIGINT) AS dist),{",".join(rounds)}
SELECT node, dist AS dist_scaled FROM d{_SSSP_ROUNDS}
"""


@query("q405_bounded_hop_sssp", oracle=_sssp_oracle_sql())
def q405_bounded_hop_sssp(spark, sf_dir):
    """BOUNDED-HOP WEIGHTED SHORTEST PATHS over the kNN graph
    (Bellman-Ford relaxation, 4 rounds from vector 0 — the WEIGHTED
    member of the graph family: q255's BFS counts hops, this
    accumulates cosine-distance edge weights; semantic reach with
    decay, the expand step of graph-based curation): per reached node
    the minimal 4-hop path weight, edge weight = round((1-cosine)*1e6)
    as exact BIGINTs on q132's value-oracled edge substrate.

    Scale shape: each relaxation is one equi-join of the frontier
    ledger against the edge table + a MIN aggregate — O(E) per round,
    rounds fixed; integer weights make every distance engine-exact
    (no float accumulation order anywhere)."""
    from variantcalling_spark.operators.similarity import knn_graph

    emb = load_table(spark, sf_dir, "embeddings")
    e = _knn3_fixed6(spark, sf_dir).select(
        "vec_id",
        "neighbor_id",
        F.round((1.0 - F.col("cosine")) * 1000000).cast("bigint").alias("w"),
    ).transform(managed_persist)
    d = spark.createDataFrame([(0, 0)], "node bigint, dist bigint")
    for _ in range(_SSSP_ROUNDS):
        relaxed = d.join(e, d.node == e.vec_id).select(
            F.col("neighbor_id").alias("node"),
            (F.col("dist") + F.col("w")).alias("dist"),
        )
        d = (
            d.unionByName(relaxed)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
            .transform(managed_persist)
        )
    return d.select("node", F.col("dist").alias("dist_scaled"))


@query(
    "q421_multiprobe_ivf_recall",
    oracle="""
SELECT * FROM (VALUES
  (CAST('fixed_nprobe2' AS VARCHAR), CAST(2.0 AS DOUBLE),
   CAST(400 AS BIGINT), CAST(180 AS BIGINT), CAST(0.45 AS DOUBLE)),
  (CAST('fixed_nprobe4' AS VARCHAR), CAST(4.0 AS DOUBLE),
   CAST(400 AS BIGINT), CAST(277 AS BIGINT), CAST(0.6925 AS DOUBLE)),
  (CAST('multiprobe_m06' AS VARCHAR), CAST(2.4 AS DOUBLE),
   CAST(400 AS BIGINT), CAST(196 AS BIGINT), CAST(0.49 AS DOUBLE)),
  (CAST('multiprobe_m08' AS VARCHAR), CAST(3.825 AS DOUBLE),
   CAST(400 AS BIGINT), CAST(255 AS BIGINT), CAST(0.6375 AS DOUBLE))
) AS t(arm, avg_probes, n_exact, n_hit, recall_at_10)
""",
)
def q421_multiprobe_ivf_recall(spark, sf_dir):
    """MULTI-PROBE IVF vs FIXED-nprobe at matched cost (the r7 ROADMAP
    lead "make the probe order earn it", resolved by MEASUREMENT): four
    arms over ONE index build — fixed nprobe=2, fixed nprobe=4, and
    margin-ordered multiprobe at two margins tuned to land near those
    average costs — each reporting its MEASURED average probes/query
    next to pooled recall@10 against the exact arm, so the
    recall-per-probe trade reads directly off the table.

    The measured answer is NEGATIVE on this corpus: recall tracks the
    total probed-cell count, and reallocating the budget toward
    boundary queries buys nothing (multiprobe avg 3.83 probes -> 0.6375
    vs fixed 4 -> 0.6925). The q392 nprobe=4->8 headroom is bought by
    raw probe count, not probe order. The harness pins that conclusion
    the same way q375 pinned the single-band recall hole — negative
    results from a real harness are what keep the dial settings honest
    (SCALE.md r8 records the 64-cell and floor+margin variants too).

    Oracle form: seeded Spark-ML KMeans routing is reproducible but
    not SQL-derivable, so the sf0.01 table is pinned as a literal
    VALUES oracle (the q392/q71 pinning pattern, local[8] dual-run
    verified). Scale shape: centroids broadcast; every window is
    per-query over <= 16 centroid rows; candidates partition-prune on
    centroid_id before any scoring; probe fan-out hard-capped."""
    from variantcalling_spark.operators.similarity import (
        cosine_topk,
        ivf_cosine_topk,
        ivf_index,
        multiprobe_ivf_cosine_topk,
    )
    from pyspark.sql import Window as W

    emb = load_table(spark, sf_dir, "embeddings").transform(managed_persist)
    q = emb.where(F.col("vec_id") < 40)
    ex = cosine_topk(q, emb, k=10).select("query_id", "cand_id")
    ex = ex.transform(managed_persist)
    centroids, indexed = _ivf16_index(spark, sf_dir)
    indexed = indexed.transform(managed_persist)

    # probe-count ledger shared by all arms: per (query, centroid) the
    # margin rank and the distance ratio to the nearest centroid
    qv = q.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("qv"),
    )
    wq = W.partitionBy("query_id")
    cells = (
        qv.crossJoin(F.broadcast(centroids))
        .select(
            "query_id",
            "centroid_id",
            F.aggregate(
                F.zip_with(
                    F.col("qv"), F.col("centroid"), lambda x, y: (x - y) * (x - y)
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ).alias("dist2"),
        )
        .withColumn("d2min", F.min("dist2").over(wq))
        .withColumn("rk", F.row_number().over(wq.orderBy("dist2", "centroid_id")))
        .transform(managed_persist)
    )

    def probes_of(arm):
        kind, p1, p2 = arm
        if kind == "fixed":
            return cells.where(F.col("rk") <= p1)
        mfac = float((1.0 + p2) ** 2)
        return cells.where(
            (F.col("rk") <= p1)
            & ((F.col("rk") == 1) | (F.col("dist2") <= F.col("d2min") * F.lit(mfac)))
        )

    # margins tuned (measured sweep, SCALE.md r8) so the multiprobe arms
    # land NEAR the fixed arms' cost: m=0.06 -> avg 2.4 probes, m=0.08
    # -> avg 3.83 probes at 16 cells on sf0.01
    arms = [
        ("fixed", 2, None, "fixed_nprobe2"),
        ("fixed", 4, None, "fixed_nprobe4"),
        ("multi", 8, 0.06, "multiprobe_m06"),
        ("multi", 8, 0.08, "multiprobe_m08"),
    ]
    out = None
    for kind, p1, p2, label in arms:
        if kind == "fixed":
            ap = ivf_cosine_topk(q, indexed, centroids, k=10, nprobe=p1)
        else:
            ap = multiprobe_ivf_cosine_topk(
                q, indexed, centroids, k=10, max_probes=p1, margin=p2
            )
        ap = ap.select("query_id", F.col("cand_id").alias("ac"))
        nprobes = probes_of((kind, p1, p2)).agg(
            (F.count(F.lit(1)) / F.countDistinct("query_id")).alias("ap_q")
        )
        hit = ex.join(
            ap, (ex.query_id == ap.query_id) & (ex.cand_id == ap.ac), "left"
        )
        row = (
            hit.agg(
                F.lit(label).alias("arm"),
                F.count(F.lit(1)).cast("bigint").alias("n_exact"),
                F.sum(F.when(F.col("ac").isNotNull(), 1).otherwise(0))
                .cast("bigint")
                .alias("n_hit"),
                F.round(
                    F.sum(F.when(F.col("ac").isNotNull(), 1).otherwise(0))
                    / F.count(F.lit(1)).cast("double"),
                    6,
                ).alias("recall_at_10"),
            )
            .crossJoin(F.broadcast(nprobes))
            .select(
                "arm",
                F.round("ap_q", 3).alias("avg_probes"),
                "n_exact",
                "n_hit",
                "recall_at_10",
            )
        )
        out = row if out is None else out.unionByName(row)
    return out


_HITS_ROUNDS = 2


def _hits_oracle_sql() -> str:
    parts = [f"WITH {_knn_edges_cte_sql()}",
             ",h0 AS (SELECT vec_id AS node, CAST(1 AS BIGINT) AS h FROM base)"]
    prev_h = "h0"
    for r in range(1, _HITS_ROUNDS + 1):
        parts.append(f""",
a{r} AS (
  SELECT e.neighbor_id AS node, CAST(SUM({prev_h}.h) AS BIGINT) AS a
  FROM e JOIN {prev_h} ON {prev_h}.node = e.vec_id
  GROUP BY e.neighbor_id
),
h{r} AS (
  SELECT e.vec_id AS node, CAST(SUM(a{r}.a) AS BIGINT) AS h
  FROM e JOIN a{r} ON a{r}.node = e.neighbor_id
  GROUP BY e.vec_id
)""")
        prev_h = f"h{r}"
    last = _HITS_ROUNDS
    return "".join(parts) + f"""
SELECT node, authority, hub,
       CAST(ROW_NUMBER() OVER (ORDER BY authority DESC, node) AS INT) AS rnk
FROM (
  SELECT a{last}.node AS node, a{last}.a AS authority,
         CAST(COALESCE(h{last}.h, 0) AS BIGINT) AS hub
  FROM a{last} LEFT JOIN h{last} ON h{last}.node = a{last}.node
  ORDER BY authority DESC, node LIMIT 20
)
"""


@query("q424_hits_centrality", oracle=_hits_oracle_sql())
def q424_hits_centrality(spark, sf_dir):
    """HITS HUBS & AUTHORITIES over the corpus kNN graph (Kleinberg
    1999 — the second classical centrality beside q144's PageRank: a
    node is a good AUTHORITY if good hubs point at it, a good HUB if
    it points at good authorities; on a kNN graph, high authority =
    'many well-connected vectors claim me as a near neighbor', the
    density signal diversity-aware curation keeps): {_HITS_ROUNDS}
    synchronous unnormalized rounds in exact BIGINTs (normalization
    only reorders ties, so the integer iterate carries the same
    ranking bit-exactly cross-engine), top-20 by authority.

    Plan per round: two equi-joins of the persisted edge table + two
    map-side-combinable SUMs — O(E) per round like q144/q151; the
    final top-20 is TakeOrdered (per-partition heaps), and the
    row_number ranks only those 20 rows."""
    from variantcalling_spark.operators.similarity import knn_graph
    from pyspark.sql import Window as W2

    emb = load_table(spark, sf_dir, "embeddings")
    e = _knn3_fixed6(spark, sf_dir).select(
        "vec_id", "neighbor_id"
    ).transform(managed_persist)
    h = emb.select(F.col("vec_id").alias("node"), F.lit(1).cast("bigint").alias("h"))
    a = None
    for _ in range(_HITS_ROUNDS):
        a = (
            e.join(h.withColumnRenamed("node", "vec_id"), "vec_id")
            .groupBy(F.col("neighbor_id").alias("node"))
            .agg(F.sum("h").cast("bigint").alias("a"))
        )
        h = (
            e.join(a.withColumnRenamed("node", "neighbor_id"), "neighbor_id")
            .groupBy(F.col("vec_id").alias("node"))
            .agg(F.sum("a").cast("bigint").alias("h"))
        )
    top = (
        a.join(h, "node", "left")
        .select(
            "node",
            F.col("a").alias("authority"),
            F.coalesce("h", F.lit(0)).cast("bigint").alias("hub"),
        )
        .orderBy(F.col("authority").desc(), "node")
        .limit(20)
    )
    return top.select(
        "*",
        F.row_number()
        .over(W2.orderBy(F.col("authority").desc(), "node"))
        .cast("int")
        .alias("rnk"),
    )


_HARM_HOPS = 3


def _harmonic_oracle_sql() -> str:
    rounds = []
    for r in range(1, _HARM_HOPS + 1):
        p = r - 1
        rounds.append(f""",
d{r} AS (
  SELECT src, dst, MIN(d) AS d FROM (
    SELECT src, dst, d FROM d{p}
    UNION ALL
    SELECT d{p}.src, e.neighbor_id AS dst, d{p}.d + 1 AS d
    FROM d{p} JOIN e ON e.vec_id = d{p}.dst
  ) GROUP BY src, dst
)""")
    return f"""
WITH {_knn_edges_cte_sql()},
d0 AS (SELECT vec_id AS src, vec_id AS dst, CAST(0 AS BIGINT) AS d FROM base)
{"".join(rounds)}
SELECT src AS node,
       CAST(COUNT(*) FILTER (WHERE dst <> src) AS BIGINT) AS n_reached,
       CAST(SUM(CASE WHEN dst <> src THEN 6 // d ELSE 0 END) AS BIGINT)
         AS harmonic6
FROM d{_HARM_HOPS}
GROUP BY src
"""


@query("q425_harmonic_centrality", oracle=_harmonic_oracle_sql())
def q425_harmonic_centrality(spark, sf_dir):
    """BOUNDED-HOP HARMONIC CENTRALITY over the kNN graph (Marchiori &
    Latora's sum of 1/d — the centrality that handles disconnected
    graphs, which kNN graphs always are; 'how quickly can this vector
    reach its semantic neighborhood'): every node's Σ 1/d over nodes
    within {_HARM_HOPS} hops, held EXACT by scaling to sixths
    (d ∈ {{1,2,3}} ⇒ 6/d ∈ {{6,3,2}} — integer, no float harmonic sum
    anywhere), plus the reached-set size.

    Plan: {_HARM_HOPS} min-plus rounds of the all-sources distance
    ledger against the persisted edge table (the q405 relaxation run
    from EVERY source at unit weight) + one final groupBy — ledger
    size is n x (bounded 3-hop ball), linear in n for the k=3
    adaptive-bucket substrate, and every round is one equi-join + MIN
    aggregate, no windows."""
    from variantcalling_spark.operators.similarity import knn_graph

    emb = load_table(spark, sf_dir, "embeddings")
    e = _knn3_fixed6(spark, sf_dir).select(
        "vec_id", "neighbor_id"
    ).transform(managed_persist)
    d = emb.select(
        F.col("vec_id").alias("src"),
        F.col("vec_id").alias("dst"),
        F.lit(0).cast("bigint").alias("d"),
    )
    for _ in range(_HARM_HOPS):
        relaxed = d.join(e, d.dst == e.vec_id).select(
            "src", F.col("neighbor_id").alias("dst"), (F.col("d") + 1).alias("d")
        )
        d = (
            d.unionByName(relaxed)
            .groupBy("src", "dst")
            .agg(F.min("d").alias("d"))
            .transform(managed_persist)
        )
    ne = F.col("dst") != F.col("src")
    return d.groupBy(F.col("src").alias("node")).agg(
        F.sum(F.when(ne, 1).otherwise(0)).cast("bigint").alias("n_reached"),
        F.sum(F.when(ne, F.expr("6 DIV d")).otherwise(0))
        .cast("bigint")
        .alias("harmonic6"),
    )


_POW_ITERS = 4
_EMB_DIM = 64


def _top_eig_oracle_sql() -> str:
    parts = [f"""
cells AS MATERIALIZED (
  SELECT vec_id, d, CAST(embedding[d + 1] AS DOUBLE) AS x
  FROM embeddings, unnest(generate_series(0, {_EMB_DIM - 1})) AS t(d)
),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM embeddings),
mu AS (
  SELECT d, CAST(SUM(CAST(ROUND(x, 10) AS DECIMAL(24,10))) AS DOUBLE)
            / (SELECT n FROM n) AS mu
  FROM cells GROUP BY d
),
cov AS MATERIALIZED (
  SELECT a.d AS i, b.d AS j,
         CAST(SUM(CAST(ROUND(a.x * b.x, 12) AS DECIMAL(28,12))) AS DOUBLE)
           / (SELECT n FROM n)
         - ma.mu * mb.mu AS c
  FROM cells a
  JOIN cells b ON b.vec_id = a.vec_id
  JOIN mu ma ON ma.d = a.d
  JOIN mu mb ON mb.d = b.d
  GROUP BY a.d, b.d, ma.mu, mb.mu
),
v0 AS (SELECT d AS j, CAST(1.0 AS DOUBLE) AS v
       FROM (SELECT unnest(generate_series(0, {_EMB_DIM - 1})) AS d))"""]
    prev = "v0"
    for it in range(1, _POW_ITERS + 1):
        parts.append(f"""
u{it} AS (
  SELECT cov.i AS j,
         CAST(SUM(CAST(ROUND(cov.c * p.v, 12) AS DECIMAL(28,12))) AS DOUBLE)
           AS u
  FROM cov JOIN {prev} p ON p.j = cov.j
  GROUP BY cov.i
),
m{it} AS (SELECT MAX(ABS(u)) AS mx FROM u{it}),
v{it} AS (
  SELECT u{it}.j, ROUND(u{it}.u / m{it}.mx, 9) AS v
  FROM u{it} CROSS JOIN m{it}
)""")
        prev = f"v{it}"
    return ("WITH " + ",".join(parts) + f"""
SELECT v.j AS dim,
       ROUND(v.v, 6) AS loading,
       ROUND(m{_POW_ITERS}.mx, 6) AS lambda_inf
FROM v{_POW_ITERS} v CROSS JOIN m{_POW_ITERS}
""")


@query("q441_top_eigenvector", oracle=_top_eig_oracle_sql())
def q441_top_eigenvector(spark, sf_dir):
    """Memoized face of :func:`_build_q441` — the covariance relation
    and each power-iteration round are localCheckpointed, cutting the
    static plan 676 -> ~10 Exchange nodes (each unrolled round
    otherwise re-inlines cov's whole cached subtree), and the session
    memo keeps re-invocations on the materialized checkpoint blocks
    (variantcalling_spark/_memo.py)."""
    from variantcalling_spark._memo import memoized

    return memoized("q441", spark, sf_dir, lambda: _build_q441(spark, sf_dir))


def _build_q441(spark, sf_dir):
    """TOP PRINCIPAL DIRECTION of the embedding covariance by SNAPPED
    POWER ITERATION (the q369 discipline applied to PCA — the first
    step of embedding whitening/anisotropy repair, and the exact
    counterpart of q235's isotropy diagnostic: q235 MEASURES
    anisotropy, this EXTRACTS the dominant direction causing it):
    covariance from one combinable pass (per-row outer products,
    12dp-rounded DECIMAL sums), then {_POW_ITERS} matvec rounds over
    the {_EMB_DIM}x{_EMB_DIM} relation with inf-norm normalization and
    per-round 9dp snapping — every float the two engines compare is
    the same rational.

    Scale shape: the ONLY data-sized pass is the covariance aggregate
    (n x {_EMB_DIM}^2 products, map-side combinable); the iteration
    runs on a broadcast-sized {_EMB_DIM}^2 relation, so 100 TB changes
    the scan cost, not the solve."""
    emb = load_table(spark, sf_dir, "embeddings")
    dim = spark.range(0, _EMB_DIM).select(F.col("id").cast("int").alias("d"))
    cells = emb.select(
        "vec_id", F.posexplode(F.col("embedding").cast("array<double>"))
    ).select(
        "vec_id", F.col("pos").alias("d"), F.col("col").alias("x")
    ).transform(managed_persist)
    n = emb.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    mu = (
        cells.groupBy("d")
        .agg(
            F.sum(F.round(F.col("x"), 10).cast("decimal(24,10)"))
            .cast("double")
            .alias("s")
        )
        .crossJoin(F.broadcast(n))
        .select("d", (F.col("s") / F.col("n")).alias("mu"))
    )
    a = cells.select("vec_id", F.col("d").alias("i"), F.col("x").alias("xa"))
    b = cells.select("vec_id", F.col("d").alias("j"), F.col("x").alias("xb"))
    cov = (
        a.join(b, "vec_id")
        .groupBy("i", "j")
        .agg(
            F.sum(
                F.round(F.col("xa") * F.col("xb"), 12).cast("decimal(28,12)")
            )
            .cast("double")
            .alias("sxy")
        )
        .crossJoin(F.broadcast(n))
        .join(F.broadcast(mu.select(F.col("d").alias("i"), F.col("mu").alias("mi"))), "i")
        .join(F.broadcast(mu.select(F.col("d").alias("j"), F.col("mu").alias("mj"))), "j")
        .select(
            "i",
            "j",
            (F.col("sxy") / F.col("n") - F.col("mi") * F.col("mj")).alias("c"),
        )
        # lazy checkpoint, not persist: every unrolled round below joins
        # cov — truncating its lineage here keeps each round's subtree a
        # flat RDD scan instead of the full covariance pipeline
        .transform(lineage_cut)
    )
    v = dim.select(F.col("d").alias("j"), F.lit(1.0).alias("v"))
    mx = None
    for _ in range(_POW_ITERS):
        u = (
            cov.join(F.broadcast(v), "j")
            .groupBy("i")
            .agg(
                F.sum(F.round(F.col("c") * F.col("v"), 12).cast("decimal(28,12)"))
                .cast("double")
                .alias("u")
            )
        )
        mx = u.agg(F.max(F.abs(F.col("u"))).alias("mx"))
        # per-round lineage cut on the dim-bounded carried state — the
        # q255/q491 iterative-consumer rule; without it the static plan
        # doubles every round
        v = u.crossJoin(F.broadcast(mx)).select(
            F.col("i").alias("j"), F.round(F.col("u") / F.col("mx"), 9).alias("v")
        ).transform(lineage_cut)
    return v.crossJoin(F.broadcast(mx)).select(
        F.col("j").cast("bigint").alias("dim"),
        F.round(F.col("v"), 6).alias("loading"),
        F.round(F.col("mx"), 6).alias("lambda_inf"),
    )


def _hubness_oracle_sql() -> str:
    return f"""
WITH {_knn_edges_cte_sql()},
indeg AS (
  SELECT e.neighbor_id AS node, CAST(COUNT(*) AS BIGINT) AS d_in
  FROM e GROUP BY e.neighbor_id
),
alln AS (
  SELECT b.vec_id AS node, COALESCE(i.d_in, 0) AS d_in
  FROM base b LEFT JOIN indeg i ON i.node = b.vec_id
),
mom AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(d_in) AS BIGINT) AS s1,
         CAST(SUM(d_in * d_in) AS BIGINT) AS s2,
         CAST(SUM(d_in * d_in * d_in) AS BIGINT) AS s3,
         CAST(MAX(d_in) AS BIGINT) AS dmax,
         CAST(SUM(CASE WHEN d_in = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_orphans
  FROM alln
)
SELECT n, dmax, n_orphans,
       ROUND(s1 / CAST(n AS DOUBLE), 6) AS mean_in,
       ROUND((CAST(s3 AS DOUBLE) / n
              - 3.0 * (CAST(s1 AS DOUBLE) / n) * (CAST(s2 AS DOUBLE) / n)
              + 2.0 * POW(CAST(s1 AS DOUBLE) / n, 3))
             / POW(CAST(s2 AS DOUBLE) / n - POW(CAST(s1 AS DOUBLE) / n, 2),
                   1.5), 6) AS hubness_skew
FROM mom
"""


@query("q466_hubness_audit", oracle=_hubness_oracle_sql())
def q466_hubness_audit(spark, sf_dir):
    """ANN HUBNESS AUDIT (Radovanović et al.: in high dimensions a few
    'hub' vectors appear in EVERYONE's neighbor lists while many
    vectors become orphans — a pathology that silently corrupts kNN
    graphs, dedup clusters, and recall numbers; positive in-degree
    skewness IS the diagnostic): the in-degree distribution of the
    q132 kNN graph — mean, max, orphan count, and the moment-based
    skewness from exact BIGINT power sums (one combinable aggregate;
    only the final skew expression touches doubles).

    Scale shape: one groupBy over graph edges + a left join back to
    the node set; O(E). The harness genre of q217/q375/q451 pointed at
    the graph substrate itself."""
    from variantcalling_spark.operators.similarity import knn_graph

    emb = load_table(spark, sf_dir, "embeddings")
    e = _knn3_fixed6(spark, sf_dir).select("vec_id", "neighbor_id")
    indeg = e.groupBy(F.col("neighbor_id").alias("node")).agg(
        F.count(F.lit(1)).cast("bigint").alias("d_in")
    )
    alln = (
        emb.select(F.col("vec_id").alias("node"))
        .join(indeg, "node", "left")
        .select(F.coalesce("d_in", F.lit(0)).cast("bigint").alias("d_in"))
    )
    d = F.col("d_in")
    mom = alln.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(d).cast("bigint").alias("s1"),
        F.sum(d * d).cast("bigint").alias("s2"),
        F.sum(d * d * d).cast("bigint").alias("s3"),
        F.max(d).cast("bigint").alias("dmax"),
        F.sum(F.when(d == 0, 1).otherwise(0)).cast("bigint").alias("n_orphans"),
    )
    n = F.col("n")
    m1 = F.col("s1").cast("double") / n
    m2 = F.col("s2").cast("double") / n
    m3 = F.col("s3").cast("double") / n
    return mom.select(
        "n",
        "dmax",
        "n_orphans",
        F.round(m1, 6).alias("mean_in"),
        F.round(
            (m3 - 3.0 * m1 * m2 + 2.0 * F.pow(m1, 3))
            / F.pow(m2 - F.pow(m1, 2), 1.5),
            6,
        ).alias("hubness_skew"),
    )


_RC_TOPK = 50


def _rich_club_oracle_sql() -> str:
    return f"""
WITH {_knn_edges_cte_sql()},
und AS (
  SELECT LEAST(vec_id, neighbor_id) AS a,
         GREATEST(vec_id, neighbor_id) AS b
  FROM e GROUP BY 1, 2
),
deg AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM (
    SELECT a AS node FROM und UNION ALL SELECT b FROM und
  ) GROUP BY node
),
rich AS (
  SELECT node FROM deg ORDER BY d DESC, node LIMIT {_RC_TOPK}
),
rc_edges AS (
  SELECT COUNT(*) AS m_rich FROM und
  WHERE a IN (SELECT node FROM rich) AND b IN (SELECT node FROM rich)
)
SELECT CAST({_RC_TOPK} AS BIGINT) AS k_rich,
       CAST((SELECT COUNT(*) FROM und) AS BIGINT) AS m_total,
       CAST((SELECT m_rich FROM rc_edges) AS BIGINT) AS m_rich,
       ROUND((SELECT m_rich FROM rc_edges)
             / ({_RC_TOPK} * ({_RC_TOPK} - 1) / 2.0), 6) AS rich_club_coeff
"""


@query("q467_rich_club", oracle=_rich_club_oracle_sql())
def q467_rich_club(spark, sf_dir):
    """RICH-CLUB COEFFICIENT of the kNN graph (do the best-connected
    vectors preferentially connect to EACH OTHER? — with q466's
    hubness skew this completes the hub diagnosis: skew says hubs
    exist, the rich-club says whether they form a clique-like core
    that a diversity sampler must explicitly break): edge density
    among the top-{_RC_TOPK} degree nodes of the undirected graph,
    phi = m_rich / C(k,2), all integer until the final ratio.

    Scale shape: degree = one groupBy over symmetrized edges; the
    club is a TakeOrdered top-k; membership filtering is two
    broadcast semi joins."""
    from variantcalling_spark.operators.similarity import knn_graph

    emb = load_table(spark, sf_dir, "embeddings")
    e = _knn3_fixed6(spark, sf_dir).select("vec_id", "neighbor_id")
    und = (
        e.select(
            F.least("vec_id", "neighbor_id").alias("a"),
            F.greatest("vec_id", "neighbor_id").alias("b"),
        )
        .distinct()
        .transform(managed_persist)
    )
    deg = (
        und.select(F.col("a").alias("node"))
        .unionByName(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    )
    rich = deg.orderBy(F.col("d").desc(), "node").limit(_RC_TOPK).select("node")
    m_rich = (
        und.join(
            F.broadcast(rich.select(F.col("node").alias("a"))), "a", "left_semi"
        )
        .join(
            F.broadcast(rich.select(F.col("node").alias("b"))), "b", "left_semi"
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("m_rich"))
    )
    m_total = und.agg(F.count(F.lit(1)).cast("bigint").alias("m_total"))
    return (
        m_total.crossJoin(F.broadcast(m_rich))
        .select(
            F.lit(_RC_TOPK).cast("bigint").alias("k_rich"),
            "m_total",
            "m_rich",
            F.round(
                F.col("m_rich") / F.lit(_RC_TOPK * (_RC_TOPK - 1) / 2.0), 6
            ).alias("rich_club_coeff"),
        )
    )


def _mp_knn_oracle_sql(k: int = 3) -> str:
    return f"""
WITH {_knn_scored_cte_sql()},
directed AS (
  SELECT vec_id, neighbor_id, cosine,
         CAST(RANK() OVER (PARTITION BY vec_id ORDER BY cosine) - 1 AS BIGINT) AS below,
         CAST(COUNT(*) OVER (PARTITION BY vec_id) AS BIGINT) AS n_cand
  FROM scored
),
mp AS (
  SELECT f.vec_id, f.neighbor_id, f.cosine,
         (CAST(f.below AS DOUBLE) / f.n_cand)
           * (CAST(r.below AS DOUBLE) / r.n_cand) AS mp
  FROM directed f JOIN directed r
    ON f.vec_id = r.neighbor_id AND f.neighbor_id = r.vec_id
)
SELECT vec_id, neighbor_id,
       CAST(ROUND((1.0 - cosine) * 1000000) AS BIGINT) AS w,
       ROUND(mp, 6) AS mp,
       rank
FROM (
  SELECT *, CAST(ROW_NUMBER() OVER (
    PARTITION BY vec_id ORDER BY mp DESC, cosine DESC, neighbor_id) AS INT) AS rank
  FROM mp
) WHERE rank <= {k}
"""


@query("q469_mutual_proximity_knn", oracle=_mp_knn_oracle_sql())
def q469_mutual_proximity_knn(spark, sf_dir):
    """HUBNESS-CORRECTED kNN GRAPH via empirical MUTUAL PROXIMITY
    (Schnitzer et al. 2012 — the operator the q466 hubness audit
    motivated: the raw kNN graph's in-degree skew means a few hub
    vectors sit in everyone's neighbor list; MP re-ranks each edge by
    the probability, under BOTH endpoints' own empirical similarity
    distributions, that a random candidate is farther, which deflates
    hubs without touching the candidate generation): the same
    Σ bucket² in-bucket candidates as q132's substrate, re-ranked to
    top-3 per vector by the MP score.

    Scale shape: the candidate relation is generated ONCE (persisted);
    the empirical CDFs are two window functions over bucket-bounded
    partitions; the reverse direction is an equi-join of the directed
    relation to itself (both directions exist by construction of the
    symmetric bucket join) — no second pair generation, no new shuffle
    class. q470 measures what the correction buys."""
    from variantcalling_spark.operators.similarity import mutual_proximity_knn

    emb = load_table(spark, sf_dir, "embeddings")
    return mutual_proximity_knn(emb, k=3, prefix_bits=6)


def _hubness_correction_oracle_sql(k: int = 3) -> str:
    # moments of the in-degree distribution (orphans included via the
    # left join to the full node set) for BOTH graphs + edge overlap
    def moments(edges: str, prefix: str) -> str:
        return f"""
{prefix}ind AS (
  SELECT neighbor_id AS node, CAST(COUNT(*) AS BIGINT) AS d_in
  FROM {edges} GROUP BY neighbor_id
),
{prefix}alln AS (
  SELECT COALESCE(i.d_in, 0) AS d_in
  FROM (SELECT vec_id AS node FROM embeddings) nn
  LEFT JOIN {prefix}ind i USING (node)
),
{prefix}mom AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(d_in) AS BIGINT) AS s1,
         CAST(SUM(d_in * d_in) AS BIGINT) AS s2,
         CAST(SUM(d_in * d_in * d_in) AS BIGINT) AS s3,
         CAST(MAX(d_in) AS BIGINT) AS dmax,
         CAST(SUM(CASE WHEN d_in = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_orphans
  FROM {prefix}alln
)"""

    def skew(prefix: str) -> str:
        m1 = f"(CAST({prefix}mom.s1 AS DOUBLE) / {prefix}mom.n)"
        m2 = f"(CAST({prefix}mom.s2 AS DOUBLE) / {prefix}mom.n)"
        m3 = f"(CAST({prefix}mom.s3 AS DOUBLE) / {prefix}mom.n)"
        return (
            f"ROUND(({m3} - 3.0 * {m1} * {m2} + 2.0 * POW({m1}, 3))"
            f" / POW({m2} - POW({m1}, 2), 1.5), 6)"
        )

    return f"""
WITH {_knn_edges_cte_sql(k=k)},
directed AS (
  SELECT vec_id, neighbor_id, cosine,
         CAST(RANK() OVER (PARTITION BY vec_id ORDER BY cosine) - 1 AS BIGINT) AS below,
         CAST(COUNT(*) OVER (PARTITION BY vec_id) AS BIGINT) AS n_cand
  FROM scored
),
mp AS (
  SELECT f.vec_id, f.neighbor_id, f.cosine,
         (CAST(f.below AS DOUBLE) / f.n_cand)
           * (CAST(r.below AS DOUBLE) / r.n_cand) AS mp
  FROM directed f JOIN directed r
    ON f.vec_id = r.neighbor_id AND f.neighbor_id = r.vec_id
),
mpe AS MATERIALIZED (
  SELECT vec_id, neighbor_id FROM (
    SELECT vec_id, neighbor_id, CAST(ROW_NUMBER() OVER (
      PARTITION BY vec_id ORDER BY mp DESC, cosine DESC, neighbor_id) AS INT) AS rank
    FROM mp
  ) WHERE rank <= {k}
),{moments("e", "raw_")},{moments("mpe", "mp_")},
ov AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_common
  FROM e JOIN mpe USING (vec_id, neighbor_id)
),
etot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_raw FROM e)
SELECT raw_mom.dmax AS raw_dmax,
       raw_mom.n_orphans AS raw_orphans,
       {skew("raw_")} AS raw_skew,
       mp_mom.dmax AS mp_dmax,
       mp_mom.n_orphans AS mp_orphans,
       {skew("mp_")} AS mp_skew,
       etot.n_raw AS n_edges,
       ov.n_common AS n_common,
       ROUND(CAST(ov.n_common AS DOUBLE) / etot.n_raw, 6) AS edge_overlap
FROM raw_mom, mp_mom, ov, etot
"""


@query("q470_hubness_correction_audit", oracle=_hubness_correction_oracle_sql())
def q470_hubness_correction_audit(spark, sf_dir):
    """BEFORE/AFTER AUDIT of the mutual-proximity correction (the
    measured-pathology -> operator -> measured-improvement pipeline:
    q466 measured the raw graph's hubness, q469 ships the correction,
    this row QUANTIFIES what it bought): in-degree max / orphan count /
    moment skewness of the raw q132 kNN graph vs the MP-re-ranked
    graph, plus the directed-edge overlap between the two (how much of
    the raw graph the correction actually rewires).

    Scale shape: both graphs ride the ONE persisted candidate
    relation; each audit is a groupBy + left-join + single combinable
    moment aggregate (the q466 shape, twice), and the overlap is an
    equi-join of two k*n edge tables."""
    from variantcalling_spark.operators.similarity import (
        knn_graph,
        mutual_proximity_knn,
    )

    emb = load_table(spark, sf_dir, "embeddings").transform(managed_persist)
    nodes = emb.select(F.col("vec_id").alias("node"))

    def audit(edges, prefix):
        indeg = edges.groupBy(F.col("neighbor_id").alias("node")).agg(
            F.count(F.lit(1)).cast("bigint").alias("d_in")
        )
        alln = nodes.join(indeg, "node", "left").select(
            F.coalesce("d_in", F.lit(0)).cast("bigint").alias("d_in")
        )
        d = F.col("d_in")
        mom = alln.agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(d).cast("bigint").alias("s1"),
            F.sum(d * d).cast("bigint").alias("s2"),
            F.sum(d * d * d).cast("bigint").alias("s3"),
            F.max(d).cast("bigint").alias("dmax"),
            F.sum(F.when(d == 0, 1).otherwise(0)).cast("bigint").alias("n_orphans"),
        )
        n = F.col("n")
        m1 = F.col("s1").cast("double") / n
        m2 = F.col("s2").cast("double") / n
        m3 = F.col("s3").cast("double") / n
        return mom.select(
            F.col("dmax").alias(f"{prefix}_dmax"),
            F.col("n_orphans").alias(f"{prefix}_orphans"),
            F.round(
                (m3 - 3.0 * m1 * m2 + 2.0 * F.pow(m1, 3))
                / F.pow(m2 - F.pow(m1, 2), 1.5),
                6,
            ).alias(f"{prefix}_skew"),
        )

    raw = _knn3_fixed6(spark, sf_dir).select(
        "vec_id", "neighbor_id"
    ).transform(managed_persist)
    mpe = mutual_proximity_knn(emb, k=3, prefix_bits=6).select(
        "vec_id", "neighbor_id"
    ).transform(managed_persist)
    ov = raw.join(mpe, ["vec_id", "neighbor_id"]).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_common")
    )
    etot = raw.agg(F.count(F.lit(1)).cast("bigint").alias("n_edges"))
    return (
        audit(raw, "raw")
        .crossJoin(F.broadcast(audit(mpe, "mp")))
        .crossJoin(F.broadcast(etot))
        .crossJoin(F.broadcast(ov))
        .select(
            "raw_dmax",
            "raw_orphans",
            "raw_skew",
            "mp_dmax",
            "mp_orphans",
            "mp_skew",
            "n_edges",
            "n_common",
            F.round(F.col("n_common") / F.col("n_edges"), 6).alias("edge_overlap"),
        )
    )


_MPR_PROBES = 40
_MPR_K = 3


def _mp_recall_oracle_sql() -> str:
    return f"""
WITH {_knn_scored_cte_sql()},
ex AS (
  SELECT query_id, cand_id FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
           CAST(ROW_NUMBER() OVER (
             PARTITION BY q.vec_id
             ORDER BY list_dot_product(q.v, c.v)
                      / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))) DESC,
                      c.vec_id) AS INT) AS rank
    FROM base q JOIN base c ON q.vec_id <> c.vec_id
    WHERE q.vec_id < {_MPR_PROBES}
  ) WHERE rank <= {_MPR_K}
),
raw_e AS (
  SELECT vec_id, neighbor_id FROM (
    SELECT vec_id, neighbor_id, CAST(ROW_NUMBER() OVER (
      PARTITION BY vec_id ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
    FROM scored
  ) WHERE rank <= {_MPR_K} AND vec_id < {_MPR_PROBES}
),
directed AS (
  SELECT vec_id, neighbor_id, cosine,
         CAST(RANK() OVER (PARTITION BY vec_id ORDER BY cosine) - 1 AS BIGINT) AS below,
         CAST(COUNT(*) OVER (PARTITION BY vec_id) AS BIGINT) AS n_cand
  FROM scored
),
mp AS (
  SELECT f.vec_id, f.neighbor_id, f.cosine,
         (CAST(f.below AS DOUBLE) / f.n_cand)
           * (CAST(r.below AS DOUBLE) / r.n_cand) AS mp
  FROM directed f JOIN directed r
    ON f.vec_id = r.neighbor_id AND f.neighbor_id = r.vec_id
),
mp_e AS (
  SELECT vec_id, neighbor_id FROM (
    SELECT vec_id, neighbor_id, CAST(ROW_NUMBER() OVER (
      PARTITION BY vec_id ORDER BY mp DESC, cosine DESC, neighbor_id) AS INT) AS rank
    FROM mp
  ) WHERE rank <= {_MPR_K} AND vec_id < {_MPR_PROBES}
),
nex AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_exact FROM ex)
SELECT 'raw' AS method, nex.n_exact,
       CAST((SELECT COUNT(*) FROM ex JOIN raw_e
             ON ex.query_id = raw_e.vec_id AND ex.cand_id = raw_e.neighbor_id)
         AS BIGINT) AS n_hit,
       ROUND((SELECT COUNT(*) FROM ex JOIN raw_e
              ON ex.query_id = raw_e.vec_id AND ex.cand_id = raw_e.neighbor_id)
             / CAST(nex.n_exact AS DOUBLE), 6) AS recall_at_k
FROM nex
UNION ALL
SELECT 'mp' AS method, nex.n_exact,
       CAST((SELECT COUNT(*) FROM ex JOIN mp_e
             ON ex.query_id = mp_e.vec_id AND ex.cand_id = mp_e.neighbor_id)
         AS BIGINT) AS n_hit,
       ROUND((SELECT COUNT(*) FROM ex JOIN mp_e
              ON ex.query_id = mp_e.vec_id AND ex.cand_id = mp_e.neighbor_id)
             / CAST(nex.n_exact AS DOUBLE), 6) AS recall_at_k
FROM nex
"""


@query("q474_mp_recall_harness", oracle=_mp_recall_oracle_sql())
def q474_mp_recall_harness(spark, sf_dir):
    """RECALL-vs-COST of the MUTUAL-PROXIMITY correction (the q217/q375
    harness genre pointed at q469: hubness correction is not free — MP
    re-ranks within the same candidate set, so any edge it rewires
    away from the raw cosine order can leave the exact top-{_MPR_K};
    this row PRICES that trade against the q470-measured skew/orphan
    improvement): recall@{_MPR_K} of the raw bucketed kNN and of the
    MP-re-ranked kNN against exact brute-force cosine top-{_MPR_K}
    over {_MPR_PROBES} probe vectors (the q217 probe convention, which
    keeps the exact arm {_MPR_PROBES} x n, never n^2).

    SCALE.md records the two-scale readout (sf0.01 / sf0.1) next to
    the q470 hubness numbers."""
    from variantcalling_spark.operators.similarity import (
        cosine_topk,
        knn_graph,
        mutual_proximity_knn,
    )

    emb = load_table(spark, sf_dir, "embeddings").transform(managed_persist)
    probes = emb.where(F.col("vec_id") < _MPR_PROBES)
    ex = (
        cosine_topk(probes, emb, k=_MPR_K)
        .select("query_id", "cand_id")
        .transform(managed_persist)
    )
    nex = ex.agg(F.count(F.lit(1)).cast("bigint").alias("n_exact"))

    def arm(edges, method):
        g = edges.where(F.col("vec_id") < _MPR_PROBES).select(
            "vec_id", "neighbor_id"
        )
        hit = ex.join(
            g,
            (ex.query_id == g.vec_id) & (ex.cand_id == g.neighbor_id),
            "left_semi",
        ).agg(F.count(F.lit(1)).cast("bigint").alias("n_hit"))
        return (
            nex.crossJoin(F.broadcast(hit))
            .select(
                F.lit(method).alias("method"),
                "n_exact",
                "n_hit",
                F.round(
                    F.col("n_hit") / F.col("n_exact").cast("double"), 6
                ).alias("recall_at_k"),
            )
        )

    raw = knn_graph(emb, k=_MPR_K, prefix_bits=6)
    mpg = mutual_proximity_knn(emb, k=_MPR_K, prefix_bits=6)
    return arm(raw, "raw").unionByName(arm(mpg, "mp"))


@query(
    "q475_isotropy_correction",
    oracle="""
WITH xr AS (
  SELECT vec_id,
         list_transform(embedding, x -> ROUND(CAST(x AS DOUBLE), 7)) AS xr
  FROM embeddings
),
u0 AS (
  SELECT vec_id, list_transform(xr, e -> ROUND(e / nn, 12)) AS uv
  FROM (
    SELECT vec_id, xr,
           sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                  list_transform(xr, e -> e * e)), (a, b) -> a + b)) AS nn
    FROM xr
  ) WHERE nn > 0
),
dims0 AS (
  SELECT d, CAST(SUM(CAST(uv[CAST(d AS INT)] AS DECIMAL(24,12))) AS DOUBLE) AS s
  FROM u0, unnest(generate_series(1, len(uv))) AS t(d)
  GROUP BY d
),
tot0 AS (
  SELECT CAST(SUM(CAST(ROUND(s * s, 10) AS DECIMAL(28,10))) AS DOUBLE) AS ssum
  FROM dims0
),
cnt0 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM u0),
mu AS (
  SELECT list(ROUND(CAST(s AS DOUBLE) / n, 12) ORDER BY d) AS m
  FROM (
    SELECT d, SUM(CAST(xr[CAST(d AS INT)] AS DECIMAL(20,7))) AS s,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM xr, unnest(generate_series(1, len(xr))) AS t(d)
    GROUP BY d
  )
),
cent AS (
  SELECT vec_id,
         list_transform(generate_series(1, len(xr)),
                        i -> xr[CAST(i AS INT)] - mu.m[CAST(i AS INT)]) AS c
  FROM xr CROSS JOIN mu
),
u1 AS (
  SELECT vec_id, list_transform(c, e -> ROUND(e / nn, 12)) AS uv
  FROM (
    SELECT vec_id, c,
           sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                  list_transform(c, e -> e * e)), (a, b) -> a + b)) AS nn
    FROM cent
  ) WHERE nn > 0
),
dims1 AS (
  SELECT d, CAST(SUM(CAST(uv[CAST(d AS INT)] AS DECIMAL(24,12))) AS DOUBLE) AS s
  FROM u1, unnest(generate_series(1, len(uv))) AS t(d)
  GROUP BY d
),
tot1 AS (
  SELECT CAST(SUM(CAST(ROUND(s * s, 10) AS DECIMAL(28,10))) AS DOUBLE) AS ssum
  FROM dims1
),
cnt1 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM u1)
SELECT cnt0.n AS n_before, cnt1.n AS n_after,
       ROUND((tot0.ssum - cnt0.n)
             / (CAST(cnt0.n AS DOUBLE) * (cnt0.n - 1)), 8) + 0.0
         AS mpc_before,
       ROUND((tot1.ssum - cnt1.n)
             / (CAST(cnt1.n AS DOUBLE) * (cnt1.n - 1)), 8) + 0.0
         AS mpc_after
FROM cnt0 CROSS JOIN tot0 CROSS JOIN cnt1 CROSS JOIN tot1
""",
)
def q475_isotropy_correction(spark, sf_dir):
    """ALL-BUT-THE-MEAN ISOTROPY CORRECTION (Mu & Viswanath 2018's
    'all-but-the-top', mean-removal stage — the operator the q235
    isotropy audit motivates, the same measured-pathology -> operator
    -> re-measure pipeline as q466 -> q469 -> q470: an anisotropic
    embedding space shares a common direction that inflates EVERY
    cosine, poisoning near-dup thresholds and SemDeDup; subtracting
    the corpus mean vector removes that direction): mean pairwise
    cosine BEFORE vs AFTER centering, both computed without any pair
    table via the q235 identity sum cos = ||sum u||^2 - n.

    Honest readout on the driver corpus (measured, q421-style): the
    synthetic embeddings are near-random, so mpc_before is already
    ~1.3e-5 — no anisotropy to remove — and mpc_after lands at the
    THEORETICAL fixed point for mean-centered vectors, -1/(n-1)
    (-5.0e-4 at n=2000), which is exactly what certifies the operator:
    on a real anisotropic corpus (reported mean cosines 0.2-0.9 for
    contextual embedding models) the same two numbers bracket the
    correction's effect.

    Scale shape: the mean vector is ONE per-dimension DECIMAL sum (64
    groups on any corpus) broadcast back as a 64-element array; the
    centering is a zip_with projection; both audits are the q235
    scan-speed aggregate — the whole correction is two scans and two
    64-row combines at 100 TB."""
    emb = load_table(spark, sf_dir, "embeddings")
    xr = emb.select(
        "vec_id",
        F.expr("transform(embedding, x -> ROUND(CAST(x AS DOUBLE), 7))").alias(
            "xr"
        ),
    ).transform(managed_persist)

    def audit(frame, vec_col):
        nrm = frame.select(
            F.col(vec_col).alias("v"),
            F.sqrt(
                F.expr(
                    f"aggregate(transform({vec_col}, e -> e * e),"
                    " cast(0.0 as double), (a, b) -> a + b)"
                )
            ).alias("nn"),
        )
        u = nrm.where(F.col("nn") > 0).select(
            F.expr("transform(v, e -> ROUND(e / nn, 12))").alias("uv")
        ).transform(managed_persist)
        dims = (
            u.select(F.posexplode("uv").alias("d0", "val"))
            .groupBy("d0")
            .agg(
                F.sum(F.col("val").cast("decimal(24,12)"))
                .cast("double")
                .alias("s")
            )
        )
        tot = dims.agg(
            F.sum(F.round(F.col("s") * F.col("s"), 10).cast("decimal(28,10)"))
            .cast("double")
            .alias("ssum")
        )
        cnt = u.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        return cnt.crossJoin(F.broadcast(tot)).select(
            "n",
            (
                F.round(
                    (F.col("ssum") - F.col("n"))
                    / (F.col("n").cast("double") * (F.col("n") - 1)),
                    8,
                )
                + 0.0
            ).alias("mpc"),
        )

    mu = (
        xr.select(F.posexplode("xr").alias("d0", "val"))
        .groupBy("d0")
        .agg(
            F.sum(F.col("val").cast("decimal(20,7)")).alias("s"),
            F.count(F.lit(1)).cast("bigint").alias("n"),
        )
        .select(
            "d0",
            F.round(F.col("s").cast("double") / F.col("n"), 12).alias("mu"),
        )
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(d0, mu))),"
                " s -> s.mu)"
            ).alias("m")
        )
    )
    cent = xr.crossJoin(F.broadcast(mu)).select(
        "vec_id",
        F.expr("zip_with(xr, m, (a, b) -> a - b)").alias("c"),
    )
    before = audit(xr, "xr")
    after = audit(cent, "c")
    return (
        before.withColumnRenamed("n", "n_before")
        .withColumnRenamed("mpc", "mpc_before")
        .crossJoin(
            F.broadcast(
                after.withColumnRenamed("n", "n_after").withColumnRenamed(
                    "mpc", "mpc_after"
                )
            )
        )
        .select("n_before", "n_after", "mpc_before", "mpc_after")
    )


@query(
    "q477_clustering_coefficient",
    oracle=f"""
WITH {_knn_edges_cte_sql()},
und AS (
  SELECT LEAST(vec_id, neighbor_id) AS a,
         GREATEST(vec_id, neighbor_id) AS b
  FROM e GROUP BY 1, 2
),
sym AS (
  SELECT a AS u, b AS v FROM und UNION ALL SELECT b AS u, a AS v FROM und
),
deg AS (SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS deg FROM sym GROUP BY u),
wedges AS (
  SELECT s1.u AS center, s1.v AS x, s2.v AS y
  FROM sym s1 JOIN sym s2 ON s1.u = s2.u AND s1.v < s2.v
),
tri AS (
  SELECT w.center AS node, CAST(COUNT(*) AS BIGINT) AS triangles
  FROM wedges w JOIN und ON und.a = w.x AND und.b = w.y
  GROUP BY w.center
)
SELECT d.node, d.deg,
       CAST(COALESCE(t.triangles, 0) AS BIGINT) AS triangles,
       ROUND(2.0 * COALESCE(t.triangles, 0) / (d.deg * (d.deg - 1)), 6)
         AS local_cc
FROM deg d LEFT JOIN tri t ON t.node = d.node
WHERE d.deg >= 2
""",
)
def q477_clustering_coefficient(spark, sf_dir):
    """LOCAL CLUSTERING COEFFICIENT per node of the kNN graph (q173
    counts the graph's triangles; this asks WHOSE neighborhoods close
    — the per-node transitivity that separates tight duplicate-like
    cliques, cc ~ 1, from hub-and-spoke stars, cc ~ 0; with q466/q470
    it completes the local-structure audit of the similarity graph):
    cc(v) = 2 * triangles(v) / (deg(v) * (deg(v) - 1)) over the
    symmetrized edge set, nodes with deg >= 2.

    Scale shape: wedges are an equi-join of the symmetrized edge list
    on the center (sum deg^2, k-bounded on a kNN graph); closure is
    ONE equi-join of wedges against the undirected edge table — the
    standard distributed triangle plan, never touching vectors."""
    from variantcalling_spark.operators.similarity import knn_graph

    emb = load_table(spark, sf_dir, "embeddings")
    e = _knn3_fixed6(spark, sf_dir).select("vec_id", "neighbor_id")
    und = (
        e.select(
            F.least("vec_id", "neighbor_id").alias("a"),
            F.greatest("vec_id", "neighbor_id").alias("b"),
        )
        .distinct()
        .transform(managed_persist)
    )
    sym = und.select(F.col("a").alias("u"), F.col("b").alias("v")).unionByName(
        und.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )
    deg = sym.groupBy(F.col("u").alias("node")).agg(
        F.count(F.lit(1)).cast("bigint").alias("deg")
    )
    s1, s2 = sym.alias("s1"), sym.alias("s2")
    wedges = s1.join(
        s2,
        (F.col("s1.u") == F.col("s2.u")) & (F.col("s1.v") < F.col("s2.v")),
    ).select(
        F.col("s1.u").alias("center"),
        F.col("s1.v").alias("x"),
        F.col("s2.v").alias("y"),
    )
    tri = (
        wedges.join(
            und, (und.a == F.col("x")) & (und.b == F.col("y"))
        )
        .groupBy(F.col("center").alias("node"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("triangles"))
    )
    return (
        deg.join(tri, "node", "left")
        .where(F.col("deg") >= 2)
        .select(
            "node",
            "deg",
            F.coalesce("triangles", F.lit(0)).cast("bigint").alias("triangles"),
            F.round(
                2.0
                * F.coalesce("triangles", F.lit(0))
                / (F.col("deg") * (F.col("deg") - 1)),
                6,
            ).alias("local_cc"),
        )
    )


_PQR_MS = (2, 4, 8)
_PQR_PROBES = 40
_PQR_K = 10
# measured at sf0.01 (the driver-cert scale), re-pinned whenever the PQ
# trainer or encoder changes — the q392/q121 VALUES-oracle convention
_PQR_ROWS = (
    (2, 400, 48, 0.12),
    (4, 400, 64, 0.16),
    (8, 400, 115, 0.2875),
)


def _pq_recall_values_oracle() -> str:
    vals = ",\n  ".join(
        f"(CAST({m} AS INT), CAST({ne} AS BIGINT), CAST({nh} AS BIGINT),"
        f" CAST({rc} AS DOUBLE))"
        for m, ne, nh, rc in _PQR_ROWS
    )
    return f"""
SELECT * FROM (VALUES
  {vals}
) AS t(m, n_exact, n_hit, recall_at_k)
"""


@query("q478_pq_recall_harness", oracle=_pq_recall_values_oracle())
def q478_pq_recall_harness(spark, sf_dir):
    """PQ RETRIEVAL-QUALITY HARNESS (the q451 sketch-accuracy genre
    applied to product quantization: q121 SHIPS the m=8 ADC path and
    q216 prices SQ8's reconstruction error, but nothing measured what
    PQ compression does to the RETRIEVAL result — the number that
    actually decides the bytes-per-vector dial): recall@{_PQR_K} of
    ADC top-{_PQR_K} vs exact cosine top-{_PQR_K} over {_PQR_PROBES}
    probes, for m = {_PQR_MS} subspaces (= m bytes/vector at 64 dims).
    Measured: 0.12 -> 0.16 -> 0.2875 — recall buys ~linearly with
    code bytes on this near-random corpus, and even m=8 loses 71% of
    exact neighbors: the honest readout is that PQ alone is a
    MEMORY dial, not a recall-preserving one, and the production
    pairing is IVF-for-candidates + PQ-for-memory with exact rerank
    (q71 + q121 composed), not raw ADC ranking.

    VALUES oracle (q392/q121 convention): the full chain (shared
    Lloyd's training, encode, broadcast-LUT ADC search, recall join)
    re-certifies against these measured numbers every driver round."""
    from concurrent.futures import ThreadPoolExecutor

    from variantcalling_spark.operators.similarity import (
        cosine_topk,
        pq_adc_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings").transform(managed_persist)
    probes = emb.where(F.col("vec_id") < _PQR_PROBES)
    ex = (
        cosine_topk(probes, emb, k=_PQR_K)
        .select("query_id", "cand_id")
        .transform(managed_persist)
    )
    nex = ex.agg(F.count(F.lit(1)).cast("bigint").alias("n_exact"))
    # The three Lloyd trainings are independent driver-coordinated
    # loops whose stages leave most cores idle; overlapping them from a
    # small thread pool back-fills the stage tails (guide §2.6) and the
    # session memo makes each a one-time cost — before this, the m=2
    # and m=4 arms re-trained per invocation (warm re-invocation
    # 12.7 s -> memo-served).
    with ThreadPoolExecutor(max_workers=len(_PQR_MS)) as pool:
        indexes = dict(
            zip(
                _PQR_MS,
                pool.map(lambda m: _pq_codes(spark, sf_dir, m), _PQR_MS),
            )
        )
    out = None
    for m in _PQR_MS:
        codebooks, codes = indexes[m]
        ap = pq_adc_topk(probes, codes, codebooks, k=_PQR_K, m=m).select(
            "query_id", "cand_id"
        )
        hit = ex.join(ap, ["query_id", "cand_id"], "left_semi").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_hit")
        )
        arm = nex.crossJoin(F.broadcast(hit)).select(
            F.lit(m).cast("int").alias("m"),
            "n_exact",
            "n_hit",
            F.round(F.col("n_hit") / F.col("n_exact").cast("double"), 6).alias(
                "recall_at_k"
            ),
        )
        out = arm if out is None else out.unionByName(arm)
    return out


@query(
    "q480_embedding_mmd",
    oracle="""
WITH xr AS (
  SELECT vec_id, label,
         list_transform(embedding, x -> ROUND(CAST(x AS DOUBLE), 7)) AS xr
  FROM embeddings
),
bydim AS (
  SELECT label, d,
         SUM(CAST(xr[CAST(d AS INT)] AS DECIMAL(20,7))) AS s,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM xr, unnest(generate_series(1, len(xr))) AS t(d)
  GROUP BY label, d
),
totdim AS (
  SELECT d, SUM(s) AS st, CAST(SUM(n) AS BIGINT) AS nt
  FROM bydim GROUP BY d
),
gaps AS (
  SELECT b.label, b.n, t.nt - b.n AS n_rest,
         CAST(ROUND(
           POW(ROUND(CAST(b.s AS DOUBLE) / b.n, 12)
               - ROUND(CAST(t.st - b.s AS DOUBLE) / (t.nt - b.n), 12), 2),
           12) AS DECIMAL(24,12)) AS g2
  FROM bydim b JOIN totdim t USING (d)
)
SELECT CAST(label AS BIGINT) AS label,
       CAST(n AS BIGINT) AS n_label,
       CAST(n_rest AS BIGINT) AS n_rest,
       ROUND(CAST(SUM(g2) AS DOUBLE), 8) AS mmd2_linear
FROM gaps
GROUP BY label, n, n_rest
""",
)
def q480_embedding_mmd(spark, sf_dir):
    """LINEAR-KERNEL MMD² PER LABEL GROUP (the embedding-space
    two-sample test: does subpopulation L live in a different region
    than the rest of the corpus? — the distribution-shift gate for
    stratified training mixes, run BEFORE trusting a per-source
    sampling weight; q299's JSD tests token distributions, this tests
    the REPRESENTATION): MMD²_linear(A, B) = ||mu_A - mu_B||², which
    needs NO pair table (the kernel trick degenerate case — the same
    sum-of-vectors identity as q235/q475), computed label-vs-rest for
    every label with the rest's sums obtained by SUBTRACTION from the
    corpus total (one aggregate, not ten).

    Scale shape: one per-(label, dim) DECIMAL sum (|labels| x 64
    groups), one 64-row-per-label combine — 100 TB of vectors tested
    at scan speed. Squared per-dim gaps are rounded to 12dp and summed
    in DECIMAL so the 64-term fold is order-independent."""
    emb = load_table(spark, sf_dir, "embeddings")
    xr = emb.select(
        "vec_id",
        "label",
        F.expr("transform(embedding, x -> ROUND(CAST(x AS DOUBLE), 7))").alias(
            "xr"
        ),
    )
    bydim = (
        xr.select("label", F.posexplode("xr").alias("d0", "val"))
        .groupBy("label", "d0")
        .agg(
            F.sum(F.col("val").cast("decimal(20,7)")).alias("s"),
            F.count(F.lit(1)).cast("bigint").alias("n"),
        )
        .transform(managed_persist)
    )
    totdim = bydim.groupBy("d0").agg(
        F.sum("s").alias("st"), F.sum("n").cast("bigint").alias("nt")
    )
    g = bydim.join(totdim, "d0").select(
        "label",
        "n",
        (F.col("nt") - F.col("n")).cast("bigint").alias("n_rest"),
        F.round(
            F.pow(
                F.round(F.col("s").cast("double") / F.col("n"), 12)
                - F.round(
                    (F.col("st") - F.col("s")).cast("double")
                    / (F.col("nt") - F.col("n")),
                    12,
                ),
                2,
            ),
            12,
        )
        .cast("decimal(24,12)")
        .alias("g2"),
    )
    return g.groupBy("label", "n", "n_rest").agg(
        F.round(F.sum("g2").cast("double"), 8).alias("mmd2_linear")
    ).select(
        F.col("label").cast("bigint").alias("label"),
        F.col("n").alias("n_label"),
        "n_rest",
        "mmd2_linear",
    )


# measured at sf0.01, re-pinned when the IVF/PQ trainers change
_IVFPQ_ROWS = (
    ("ivf_exact", 400, 277, 0.6925),
    ("ivf_adc_pool10", 400, 120, 0.3),
    ("ivf_adc50_rerank", 400, 248, 0.62),
)


def _ivfpq_values_oracle() -> str:
    vals = ",\n  ".join(
        f"('{t}', CAST({ne} AS BIGINT), CAST({nh} AS BIGINT),"
        f" CAST({rc} AS DOUBLE))"
        for t, ne, nh, rc in _IVFPQ_ROWS
    )
    return f"""
SELECT * FROM (VALUES
  {vals}
) AS t(arm, n_exact, n_hit, recall_at_k)
"""


@query("q481_ivf_pq_rerank", oracle=_ivfpq_values_oracle())
def q481_ivf_pq_rerank(spark, sf_dir):
    """IVFADC + EXACT RERANK — the production ANN composition, graded
    (closing the loop q478 opened: PQ-alone ranking loses ~71% of
    exact neighbors, so ship the pairing its readout prescribes and
    MEASURE the recovery): three arms against exact brute-force
    top-10 over 40 probes —
      ivf_exact        nprobe=4 cells, exact in-cell cosine (the IVF
                       ceiling: 0.6925);
      ivf_adc_pool10   same cells ranked by 8-byte ADC codes only
                       (0.30 — quantization error costs 57% of the
                       ceiling);
      ivf_adc50_rerank ADC selects a 50-deep pool, exact cosine
                       reranks to 10 (0.62 — 90% of the ceiling back,
                       touching FIFTY float vectors per query instead
                       of the cell contents).
    The operator is `ivf_pq_rerank_topk`: at 10^9 vectors the floats
    live only behind the final |queries| x adc_pool join; everything
    before it is broadcast LUTs and byte codes.

    VALUES oracle (q392/q121 convention — KMeans routing is seeded-
    reproducible but not SQL-derivable)."""
    from variantcalling_spark.operators.similarity import (
        cosine_topk,
        ivf_cosine_topk,
        ivf_index,
        ivf_pq_rerank_topk,
        pq_index,
    )

    emb = load_table(spark, sf_dir, "embeddings").transform(managed_persist)
    probes = emb.where(F.col("vec_id") < 40)
    ex = (
        cosine_topk(probes, emb, k=10)
        .select("query_id", "cand_id")
        .transform(managed_persist)
    )
    nex = ex.agg(F.count(F.lit(1)).cast("bigint").alias("n_exact"))
    centroids, indexed = _ivf16_index(spark, sf_dir)
    indexed = indexed.transform(managed_persist)
    codebooks, codes = _pq_codes_8x16(spark, sf_dir)
    codes = codes.transform(managed_persist)
    arms = (
        ("ivf_exact", ivf_cosine_topk(probes, indexed, centroids, k=10, nprobe=4)),
        (
            "ivf_adc_pool10",
            ivf_pq_rerank_topk(
                probes, emb, centroids, indexed, codes, codebooks,
                k=10, nprobe=4, adc_pool=10, m=8,
            ),
        ),
        (
            "ivf_adc50_rerank",
            ivf_pq_rerank_topk(
                probes, emb, centroids, indexed, codes, codebooks,
                k=10, nprobe=4, adc_pool=50, m=8,
            ),
        ),
    )
    out = None
    for tag, ap in arms:
        hit = ex.join(
            ap.select("query_id", "cand_id"), ["query_id", "cand_id"], "left_semi"
        ).agg(F.count(F.lit(1)).cast("bigint").alias("n_hit"))
        arm = nex.crossJoin(F.broadcast(hit)).select(
            F.lit(tag).alias("arm"),
            "n_exact",
            "n_hit",
            F.round(F.col("n_hit") / F.col("n_exact").cast("double"), 6).alias(
                "recall_at_k"
            ),
        )
        out = arm if out is None else out.unionByName(arm)
    return out


def _semantic_ingest_oracle_sql(
    n_planes: int = 32, n_bands: int = 4, dim: int = 64
) -> str:
    from variantcalling_spark.operators.similarity import _plane_signs

    signs = _plane_signs(n_planes, dim)
    bits_per_band = n_planes // n_bands

    def plane_vec(p):
        return "[" + ",".join(f"{signs[d][p]:.1f}" for d in range(dim)) + "]"

    sums = ",\n         ".join(
        f"list_dot_product(vd, {plane_vec(p)}) AS s{p}" for p in range(n_planes)
    )

    def bucket_expr(b):
        return " + ".join(
            f"(CASE WHEN s{b * bits_per_band + j} > 0 THEN {2**j} ELSE 0 END)"
            for j in range(bits_per_band)
        )

    def bands_sql(src):
        return "\n  UNION ALL\n".join(
            f"  SELECT vec_id, v, {b} AS band, {bucket_expr(b)} AS bucket"
            f" FROM {src}"
            for b in range(n_bands)
        )

    return f"""
WITH q AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * {QUANT}) AS BIGINT)) AS qv
  FROM embeddings
),
oldc AS (SELECT vec_id, qv AS v FROM q),
newb AS (
  SELECT vec_id + 200000 AS vec_id, qv AS v FROM q WHERE vec_id % 20 = 0
  UNION ALL
  SELECT vec_id + 100000 AS vec_id,
         [qv[i] * (10 + (vec_id + i - 1) % 7 - 3)
          for i in generate_series(1, len(qv))] AS v
  FROM q WHERE vec_id % 10 = 0
  UNION ALL
  SELECT vec_id + 300000 AS vec_id,
         list_transform(qv, x -> -x) AS v
  FROM q WHERE vec_id % 7 = 0
),
old_sig AS (
  SELECT vec_id, v, {sums}
  FROM (SELECT vec_id, v, list_transform(v, x -> CAST(x AS DOUBLE)) AS vd FROM oldc)
),
new_sig AS (
  SELECT vec_id, v, {sums}
  FROM (SELECT vec_id, v, list_transform(v, x -> CAST(x AS DOUBLE)) AS vd FROM newb)
),
old_bands AS (
{bands_sql("old_sig")}
),
new_bands AS (
{bands_sql("new_sig")}
),
scored AS (
  SELECT n.vec_id AS vec_new, o.vec_id AS vec_old,
         list_dot_product(n.v, o.v)
           / (sqrt(list_dot_product(n.v, n.v)) * sqrt(list_dot_product(o.v, o.v))) AS cosine
  FROM new_bands n JOIN old_bands o
    ON n.band = o.band AND n.bucket = o.bucket
)
SELECT DISTINCT vec_new, vec_old, cosine FROM scored WHERE cosine >= 0.9
"""


@query("q482_semantic_ingest_dedup", oracle=_semantic_ingest_oracle_sql())
def q482_semantic_ingest_dedup(spark, sf_dir):
    """SEMANTIC DEDUP AT INGEST, batch replay (the embedding twin of
    q122: text gets incremental MinHash dedup AND a streaming face
    (streaming/ingest_dedup.py), embeddings had only the batch
    self-join — this closes the matrix; the foreachBatch face lives in
    streaming/semantic_ingest.py with a stream==batch pin): a NEW
    ingest batch — exact copies of every 20th vector, integer rescales
    of every 10th (cosine ~0.97), and NEGATED copies of every 7th
    (cosine -1: genuinely new, must match nothing) — probes the stored
    hyperplane-band index of the OLD corpus, first-colliding-band
    candidates only, exact-cosine verify >= 0.9.

    Scale shape: the corpus is touched ONCE at index build; each
    ingest batch costs one Arrow signature matmul + an equi-join on
    (band, bucket) + |collisions| exact cosines — O(|batch| +
    collisions) per ingest at any corpus size."""
    from variantcalling_spark.streaming.semantic_ingest import (
        build_semantic_index,
        streaming_semantic_probe,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.select("vec_id", _quantize(F.col("embedding")).alias("v"))
    exact = q.where(F.col("vec_id") % 20 == 0).select(
        (F.col("vec_id") + 200000).alias("vec_id"), "v"
    )
    near = (
        q.where(F.col("vec_id") % 10 == 0)
        .select(
            "vec_id",
            F.transform(
                "v", lambda x, i: x * (10 + (F.col("vec_id") + i) % 7 - 3)
            ).alias("v"),
        )
        .select((F.col("vec_id") + 100000).alias("vec_id"), "v")
    )
    novel = q.where(F.col("vec_id") % 7 == 0).select(
        (F.col("vec_id") + 300000).alias("vec_id"),
        F.transform("v", lambda x: -x).alias("v"),
    )
    new_batch = exact.unionByName(near).unionByName(novel)
    index = build_semantic_index(q).transform(managed_persist)
    return streaming_semantic_probe(new_batch, index, threshold=0.9)


_NND_BITS = 6
_NND_BANDS = 2


_NND_DEFAULT_BASE = f"""base AS MATERIALIZED (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * {QUANT}) AS BIGINT)) AS v
  FROM embeddings
)"""


def _nnd_base_cte_sql(
    band_bits: int = _NND_BITS,
    n_bands: int = _NND_BANDS,
    dim: int = 64,
    k: int = 3,
    base_sql: str | None = None,
) -> str:
    """WITH-fragment for the NN-descent family: quantized relation
    ``bk(vec_id, v)``, the ``n_bands`` independent ``band_bits``-bit
    hyperplane bucketings ``banded(vec_id, band_ix, key)`` (band 0 is
    bit-identical to q132's single-band bucket — the plane matrix is
    position-independent), the multiband candidate union ``prs``, and
    the initial top-k graph ``g0`` — the SQL twin of
    ``nn_descent_refine``'s initialization.

    Every CTE of the chain (and a caller's ``base_sql``) is AS
    MATERIALIZED: most are referenced two or more times downstream, and
    DuckDB re-expands an inlined CTE's whole prefix at every reference
    (SCALE.md, the CTE-doubling lesson)."""
    from variantcalling_spark.operators.similarity import _plane_signs

    n_planes = band_bits * n_bands
    signs = _plane_signs(n_planes, dim)

    def plane_vec(p):
        return "[" + ",".join(f"{signs[d][p]:.1f}" for d in range(dim)) + "]"

    sums = ",\n         ".join(
        f"list_dot_product(vd, {plane_vec(p)}) AS s{p}" for p in range(n_planes)
    )

    def key_expr(b):
        return " + ".join(
            f"(CASE WHEN s{b * band_bits + r} > 0 THEN {2**r} ELSE 0 END)"
            for r in range(band_bits)
        )

    band_rows = "\n  UNION ALL\n  ".join(
        f"SELECT vec_id, {b} AS band_ix, {key_expr(b)} AS key FROM sig"
        for b in range(n_bands)
    )
    return f"""{base_sql or _NND_DEFAULT_BASE},
sig AS MATERIALIZED (
  SELECT vec_id,
         {sums}
  FROM (SELECT vec_id, list_transform(v, x -> CAST(x AS DOUBLE)) AS vd FROM base)
),
bk AS MATERIALIZED (SELECT vec_id, v FROM base),
banded AS MATERIALIZED (
  {band_rows}
),
prs AS MATERIALIZED (
  SELECT DISTINCT p1.vec_id AS vec_id, p2.vec_id AS neighbor_id
  FROM banded p1 JOIN banded p2
    ON p1.band_ix = p2.band_ix AND p1.key = p2.key
  WHERE p1.vec_id <> p2.vec_id
),
sc0 AS MATERIALIZED (
  SELECT prs.vec_id, prs.neighbor_id,
         list_dot_product(q.v, c.v)
           / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))) AS cosine
  FROM prs JOIN bk q ON q.vec_id = prs.vec_id
           JOIN bk c ON c.vec_id = prs.neighbor_id
),
g0 AS MATERIALIZED (
  SELECT vec_id, neighbor_id, cosine FROM (
    SELECT *, CAST(ROW_NUMBER() OVER (
      PARTITION BY vec_id ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
    FROM sc0
  ) WHERE rank <= {k}
)"""


def _nnd_iter_cte_sql(i: int, k: int = 3) -> str:
    """One NN-descent iteration as SQL CTEs: g{i-1} -> g{i} (undirected
    expansion, exact rescoring against the quantized relation ``bk``,
    max-groupby dedup, top-k re-rank) — the literal twin of one loop
    body in ``nn_descent_refine``."""
    p = i - 1
    return f"""
und{i} AS MATERIALIZED (
  SELECT vec_id, neighbor_id FROM g{p}
  UNION
  SELECT neighbor_id AS vec_id, vec_id AS neighbor_id FROM g{p}
),
cand{i} AS MATERIALIZED (
  SELECT DISTINCT u1.vec_id AS vec_id, u2.neighbor_id AS neighbor_id
  FROM und{i} u1 JOIN und{i} u2 ON u1.neighbor_id = u2.vec_id
  WHERE u1.vec_id <> u2.neighbor_id
),
sc{i} AS MATERIALIZED (
  SELECT cd.vec_id, cd.neighbor_id,
         list_dot_product(q.v, c.v)
           / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))) AS cosine
  FROM cand{i} cd JOIN bk q ON q.vec_id = cd.vec_id
                  JOIN bk c ON c.vec_id = cd.neighbor_id
),
g{i} AS MATERIALIZED (
  SELECT vec_id, neighbor_id, cosine FROM (
    SELECT *, CAST(ROW_NUMBER() OVER (
      PARTITION BY vec_id ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
    FROM (
      SELECT vec_id, neighbor_id, MAX(cosine) AS cosine FROM (
        SELECT * FROM g{p} UNION ALL SELECT * FROM sc{i}
      ) GROUP BY vec_id, neighbor_id
    )
  ) WHERE rank <= {k}
)"""


def _nnd_graph_oracle_sql(k: int = 3, iterations: int = 1) -> str:
    iters = ",".join(_nnd_iter_cte_sql(i, k) for i in range(1, iterations + 1))
    return f"""
WITH {_nnd_base_cte_sql(k=k)},{iters}
SELECT vec_id, neighbor_id, cosine, rank FROM (
  SELECT vec_id, neighbor_id, cosine, CAST(ROW_NUMBER() OVER (
    PARTITION BY vec_id ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
  FROM g{iterations}
) WHERE rank <= {k}
"""


@query("q483_nn_descent_graph", oracle=_nnd_graph_oracle_sql())
def q483_nn_descent_graph(spark, sf_dir):
    """NN-DESCENT kNN-GRAPH REFINEMENT (Dong et al. 2011 — "a neighbor
    of a neighbor is likely a neighbor"): one exact-rescored
    neighbor-of-neighbor expansion over a TWO-BAND initialization
    graph. The single-band graph (q132) is bucket-LOCAL, and r9
    measured the consequence: its neighbor-of-neighbor closure never
    leaves the bucket, so NN-descent over it is a provable no-op (0
    edges rewired at any bit width). With two independent bucketings
    the expansion genuinely mixes bands — u's band-A neighbor
    contributes its band-B neighbor, a pair no single band ever
    co-bucketed — and one iteration rewires ~10% of edges strictly
    upward on sf0.1 (q484 grades the trade).

    Scale shape: init = 2 equi-joins on (band_ix, key) over one
    persisted quantized relation; the iteration = one self-join of the
    undirected edge list (Sigma deg^2 candidates, k-bounded except at
    hubs) + scoring joins. Engine-exact cosines -> full value oracle."""
    from variantcalling_spark.operators.similarity import nn_descent_refine

    emb = load_table(spark, sf_dir, "embeddings")
    return nn_descent_refine(
        emb, k=3, band_bits=_NND_BITS, init_bands=_NND_BANDS, iterations=1
    )


_NND_PROBES = 40
_NND_K = 3


def _nnd_recall_oracle_sql(
    base_sql: str | None = None, probe_pred: str | None = None
) -> str:
    pp = probe_pred or f"{{a}}.vec_id < {_NND_PROBES}"
    iters = ",".join(_nnd_iter_cte_sql(i, _NND_K) for i in (1, 2))
    arm_rows = []
    for g_name, label in (
        ("sb", "a_single_band"),
        ("g0", "b_mb_init"),
        ("g1", "c_nnd_iter1"),
        ("g2", "d_nnd_iter2"),
    ):
        arm_rows.append(f"""SELECT '{label}' AS method, nex.n_exact,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM ex JOIN {g_name} g
             ON ex.query_id = g.vec_id AND ex.cand_id = g.neighbor_id
             WHERE {pp.format(a="g")}) AS n_hit,
       ROUND((SELECT COUNT(*) FROM ex JOIN {g_name} g
              ON ex.query_id = g.vec_id AND ex.cand_id = g.neighbor_id
              WHERE {pp.format(a="g")})
             / CAST(nex.n_exact AS DOUBLE), 6) AS recall_at_k,
       (SELECT ROUND(CAST(SUM(CAST(ROUND(cosine, 9) AS DECIMAL(24,12))) AS DOUBLE)
                     / COUNT(*), 6) FROM {g_name}) AS mean_graph_cosine
FROM nex""")
    arms = "\nUNION ALL\n".join(arm_rows)
    return f"""
WITH {_nnd_base_cte_sql(k=_NND_K, base_sql=base_sql)},{iters},
sb AS MATERIALIZED (
  SELECT vec_id, neighbor_id, cosine FROM (
    SELECT *, CAST(ROW_NUMBER() OVER (
      PARTITION BY vec_id ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
    FROM (
      SELECT p1.vec_id AS vec_id, p2.vec_id AS neighbor_id,
             list_dot_product(q.v, c.v)
               / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))) AS cosine
      FROM banded p1 JOIN banded p2
        ON p1.band_ix = 0 AND p2.band_ix = 0 AND p1.key = p2.key
       AND p1.vec_id <> p2.vec_id
      JOIN bk q ON q.vec_id = p1.vec_id
      JOIN bk c ON c.vec_id = p2.vec_id
    )
  ) WHERE rank <= {_NND_K}
),
ex AS MATERIALIZED (
  SELECT query_id, cand_id FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
           CAST(ROW_NUMBER() OVER (
             PARTITION BY q.vec_id
             ORDER BY list_dot_product(q.v, c.v)
                      / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))) DESC,
                      c.vec_id) AS INT) AS rank
    FROM bk q JOIN bk c ON q.vec_id <> c.vec_id
    WHERE {pp.format(a="q")}
  ) WHERE rank <= {_NND_K}
),
nex AS MATERIALIZED (SELECT CAST(COUNT(*) AS BIGINT) AS n_exact FROM ex)
{arms}
"""


@query("q484_nnd_recall_harness", oracle=_nnd_recall_oracle_sql())
def q484_nnd_recall_harness(spark, sf_dir):
    """NN-DESCENT GRADING HARNESS (the q474/q217 recall genre pointed
    at q483), four arms: single-band graph, two-band init, +1 and +2
    NN-descent iterations. Two readouts per arm — recall@{_NND_K}
    against exact brute force over {_NND_PROBES} probes, and the
    DECIMAL-exact mean cosine of the FULL graph (the objective
    NN-descent monotonically improves). The r9 measurement this row
    pins: multiband init buys real recall (+3/120 at sf0.1); the
    iterations then improve the graph objective (~10% of edges rewired
    strictly upward) while exact-recall@3 stays flat on this
    near-isotropic corpus — exactly Dong et al.'s high-intrinsic-
    dimension caveat, measured rather than assumed. On clustered
    corpora the same iterations close recall gaps; the harness reports
    whichever is true of YOUR corpus.

    Scale shape: the exact arm is probes x n (the q217 convention);
    every graph arm shares q483's plan shape; the mean-cosine audit is
    one DECIMAL fold per graph."""
    from variantcalling_spark.operators.similarity import (
        cosine_topk,
        knn_graph,
        nn_descent_graphs,
    )

    emb = load_table(spark, sf_dir, "embeddings").transform(managed_persist)
    probes = emb.where(F.col("vec_id") < _NND_PROBES)
    ex = (
        cosine_topk(probes, emb, k=_NND_K)
        .select("query_id", "cand_id")
        .transform(managed_persist)
    )
    nex = ex.agg(F.count(F.lit(1)).cast("bigint").alias("n_exact"))

    def arm(edges, method):
        edges = edges.transform(managed_persist)
        g = edges.where(F.col("vec_id") < _NND_PROBES).select(
            "vec_id", "neighbor_id"
        )
        hit = ex.join(
            g,
            (ex.query_id == g.vec_id) & (ex.cand_id == g.neighbor_id),
            "left_semi",
        ).agg(F.count(F.lit(1)).cast("bigint").alias("n_hit"))
        mean_cos = edges.agg(
            F.round(
                F.sum(
                    F.round(F.col("cosine"), 9).cast("decimal(24,12)")
                ).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("mean_graph_cosine")
        )
        return (
            nex.crossJoin(F.broadcast(hit))
            .crossJoin(F.broadcast(mean_cos))
            .select(
                F.lit(method).alias("method"),
                "n_exact",
                "n_hit",
                F.round(
                    F.col("n_hit") / F.col("n_exact").cast("double"), 6
                ).alias("recall_at_k"),
                "mean_graph_cosine",
            )
        )

    sb = knn_graph(emb, k=_NND_K, prefix_bits=_NND_BITS)
    # ONE refinement chain serves all three NN-descent arms — the
    # intermediate graphs are the arms (g2's first iteration IS g1),
    # instead of three rebuilds whose equality only CacheManager dedup
    # used to recover
    g0, g1, g2 = nn_descent_graphs(
        emb, k=_NND_K, band_bits=_NND_BITS, init_bands=_NND_BANDS, iterations=2
    )
    return (
        arm(sb, "a_single_band")
        .unionByName(arm(g0, "b_mb_init"))
        .unionByName(arm(g1, "c_nnd_iter1"))
        .unionByName(arm(g2, "d_nnd_iter2"))
    )


def _semantic_decontam_oracle_sql(
    n_planes: int = 32, n_bands: int = 4, dim: int = 64, threshold: float = 0.95
) -> str:
    from variantcalling_spark.operators.similarity import _plane_signs

    signs = _plane_signs(n_planes, dim)
    bits_per_band = n_planes // n_bands

    def plane_vec(p):
        return "[" + ",".join(f"{signs[d][p]:.1f}" for d in range(dim)) + "]"

    sums = ",\n         ".join(
        f"list_dot_product(vd, {plane_vec(p)}) AS s{p}" for p in range(n_planes)
    )

    def bucket_expr(b):
        return " + ".join(
            f"(CASE WHEN s{b * bits_per_band + j} > 0 THEN {2**j} ELSE 0 END)"
            for j in range(bits_per_band)
        )

    def bands_sql(src):
        return "\n  UNION ALL\n".join(
            f"  SELECT vec_id, v, {b} AS band, {bucket_expr(b)} AS bucket"
            f" FROM {src}"
            for b in range(n_bands)
        )

    return f"""
WITH q AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * {QUANT}) AS BIGINT)) AS qv
  FROM embeddings
),
ev AS (SELECT vec_id, qv AS v FROM q WHERE vec_id % 20 = 0),
tr AS (
  SELECT vec_id, qv AS v FROM q WHERE vec_id % 20 <> 0
  UNION ALL
  SELECT vec_id + 400000 AS vec_id, qv AS v
  FROM q WHERE vec_id % 20 = 0 AND (vec_id // 20) % 3 = 0
  UNION ALL
  SELECT vec_id + 500000 AS vec_id,
         [qv[i] * (10 + (vec_id + i - 1) % 7 - 3)
          for i in generate_series(1, len(qv))] AS v
  FROM q WHERE vec_id % 20 = 0 AND (vec_id // 20) % 2 = 0
),
ev_sig AS (
  SELECT vec_id, v, {sums}
  FROM (SELECT vec_id, v, list_transform(v, x -> CAST(x AS DOUBLE)) AS vd FROM ev)
),
tr_sig AS (
  SELECT vec_id, v, {sums}
  FROM (SELECT vec_id, v, list_transform(v, x -> CAST(x AS DOUBLE)) AS vd FROM tr)
),
ev_bands AS (
{bands_sql("ev_sig")}
),
tr_bands AS (
{bands_sql("tr_sig")}
),
scored AS (
  SELECT t.vec_id AS train_id, e.vec_id AS eval_id,
         list_dot_product(t.v, e.v)
           / (sqrt(list_dot_product(t.v, t.v)) * sqrt(list_dot_product(e.v, e.v))) AS cosine
  FROM tr_bands t JOIN ev_bands e
    ON t.band = e.band AND t.bucket = e.bucket
)
SELECT DISTINCT train_id, eval_id, cosine FROM scored WHERE cosine >= {threshold}
"""


@query("q490_semantic_decontamination", oracle=_semantic_decontam_oracle_sql())
def q490_semantic_decontamination(spark, sf_dir):
    """SEMANTIC DECONTAMINATION (the EMBEDDING arm of benchmark
    decontamination — q75/q133 catch n-gram overlap, but a paraphrased
    or re-rendered benchmark item shares no 8-gram while its embedding
    still sits at cosine ~1; this is the semantic sweep production
    pipelines run beside the lexical one): every TRAIN vector probes
    the stored hyperplane-band index of the EVAL benchmark and is
    flagged at exact-cosine >= 0.95. Planted ground truth: exact
    copies of every 3rd benchmark item (sign bits agree plane-by-plane
    -> collide in EVERY band -> always flagged, 9/9 at sf0.01) and
    integer rescales of every 2nd (cosine ~0.98, caught at the 4-band
    collision rate — 12/13 at sf0.01); the clean train corpus is
    near-random to the benchmark and produces ZERO false flags.

    Scale shape: the q482/q122 asymmetric-probe shape with the ROLES
    REVERSED — the benchmark index is tiny (|eval| vectors, built
    once, broadcastable), the 100 TB train side streams through one
    Arrow signature matmul + an equi-join on (band, bucket) +
    |collisions| exact cosines; the train corpus is never self-joined."""
    from variantcalling_spark.operators.similarity import (
        semantic_band_index,
        semantic_band_probe_between,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.select("vec_id", _quantize(F.col("embedding")).alias("v"))
    ev = q.where(F.col("vec_id") % 20 == 0)
    clean = q.where(F.col("vec_id") % 20 != 0)
    exact = (
        ev.where((F.col("vec_id") / 20).cast("bigint") % 3 == 0)
        .select((F.col("vec_id") + 400000).alias("vec_id"), "v")
    )
    rescaled = (
        ev.where((F.col("vec_id") / 20).cast("bigint") % 2 == 0)
        .select(
            "vec_id",
            F.transform(
                "v", lambda x, i: x * (10 + (F.col("vec_id") + i) % 7 - 3)
            ).alias("v"),
        )
        .select((F.col("vec_id") + 500000).alias("vec_id"), "v")
    )
    train = clean.unionByName(exact).unionByName(rescaled)
    ev_sig = semantic_band_index(ev).transform(managed_persist)
    tr_sig = semantic_band_index(train)
    return semantic_band_probe_between(tr_sig, ev_sig, threshold=0.95).select(
        F.col("vec_new").alias("train_id"),
        F.col("vec_old").alias("eval_id"),
        "cosine",
    )


def _louvain_after_cte_sql() -> str:
    """``_lpa_cte_sql`` + the q491 synchronous local-move chain,
    ending with ``after(node, community)`` — shared by q491 (the move
    ledger) and q500 (the connectivity audit of the moved partition)."""
    return _lpa_cte_sql() + """
, m2t AS MATERIALIZED (SELECT CAST(COUNT(*) AS BIGINT) AS m2 FROM edges),
deg AS MATERIALIZED (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS k FROM edges GROUP BY src),
dsum AS (
  SELECT c.community, CAST(SUM(d.k) AS BIGINT) AS dtot
  FROM communities c JOIN deg d USING (node) GROUP BY c.community
),
nc AS (
  SELECT e.src AS node, cb.community AS cand, CAST(COUNT(*) AS BIGINT) AS e_ic
  FROM edges e JOIN communities cb ON cb.node = e.dst
  GROUP BY e.src, cb.community
),
cand2 AS (
  SELECT node, cand, MAX(e_ic) AS e_ic FROM (
    SELECT node, cand, e_ic FROM nc
    UNION ALL
    SELECT node, community AS cand, CAST(0 AS BIGINT) AS e_ic FROM communities
  ) GROUP BY node, cand
),
scored AS (
  SELECT c2.node, c2.cand,
         m2t.m2 * c2.e_ic
           - d.k * (ds.dtot - CASE WHEN c2.cand = cur.community THEN d.k ELSE 0 END)
           AS score
  FROM cand2 c2
  JOIN deg d ON d.node = c2.node
  JOIN communities cur ON cur.node = c2.node
  JOIN dsum ds ON ds.community = c2.cand
  CROSS JOIN m2t
),
best AS (
  SELECT node, cand AS new_community FROM (
    SELECT node, cand,
           ROW_NUMBER() OVER (PARTITION BY node ORDER BY score DESC, cand) AS rn
    FROM scored
  ) WHERE rn = 1
),
after AS MATERIALIZED (
  SELECT c.node, COALESCE(b.new_community, c.community) AS community
  FROM communities c LEFT JOIN best b USING (node)
)"""


def _louvain_after_frames(spark, sf_dir):
    """Shared Spark side of ``_louvain_after_cte_sql()``: the LPA
    partition plus ONE synchronous Louvain local-move sweep. Returns
    (edges, communities, deg, m2t, best, after) with ``after``
    localCheckpoint'd so every consumer (q491 ledger, q500 audit, q505
    refinement) starts from a leaf instead of re-inlining the chain."""
    return _memoized(
        "louvain_after", spark, sf_dir, lambda: _build_louvain_after(spark, sf_dir)
    )


def _build_louvain_after(spark, sf_dir):
    from pyspark.sql import Window as W

    edges, labels = _lpa_edges_and_labels(spark, sf_dir)
    communities = labels.select(
        "node", F.col("label").alias("community")
    ).transform(managed_persist)
    m2t = edges.agg(F.count(F.lit(1)).cast("bigint").alias("m2"))
    deg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).cast("bigint").alias("k")
    ).transform(managed_persist)
    dsum = (
        communities.join(deg, "node")
        .groupBy("community")
        .agg(F.sum("k").cast("bigint").alias("dtot"))
    )
    nc = (
        edges.join(
            communities.select(
                F.col("node").alias("dst"), F.col("community").alias("cand")
            ),
            "dst",
        )
        .groupBy(F.col("src").alias("node"), "cand")
        .agg(F.count(F.lit(1)).cast("bigint").alias("e_ic"))
    )
    cand2 = (
        nc.unionByName(
            communities.select(
                "node",
                F.col("community").alias("cand"),
                F.lit(0).cast("bigint").alias("e_ic"),
            )
        )
        .groupBy("node", "cand")
        .agg(F.max("e_ic").alias("e_ic"))
    )
    scored = (
        cand2.join(deg, "node")
        .join(communities.withColumnRenamed("community", "cur"), "node")
        .join(dsum.withColumnRenamed("community", "cand"), "cand")
        .crossJoin(F.broadcast(m2t))
        .select(
            "node",
            "cand",
            (
                F.col("m2") * F.col("e_ic")
                - F.col("k")
                * (
                    F.col("dtot")
                    - F.when(F.col("cand") == F.col("cur"), F.col("k")).otherwise(
                        F.lit(0).cast("bigint")
                    )
                )
            ).alias("score"),
        )
    )
    best = (
        scored.withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("node").orderBy(F.desc("score"), "cand")
            ),
        )
        .where(F.col("rn") == 1)
        .select("node", F.col("cand").alias("new_community"))
    )
    after = communities.join(best, "node", "left").select(
        "node", F.coalesce("new_community", "community").alias("community")
    ).localCheckpoint()
    return edges, communities, deg, m2t, best, after


@query(
    "q491_louvain_local_move",
    oracle=_louvain_after_cte_sql()
    + """
, q_of AS (
  SELECT 'before' AS phase, c.node, c.community FROM communities c
  UNION ALL
  SELECT 'after', a.node, a.community FROM after a
),
qin AS (
  SELECT p.phase, ca.community, CAST(COUNT(*) AS BIGINT) AS in_edges
  FROM edges e
  JOIN q_of ca ON ca.node = e.src
  JOIN q_of cb ON cb.node = e.dst AND cb.phase = ca.phase
  JOIN (SELECT DISTINCT phase FROM q_of) p ON p.phase = ca.phase
  WHERE ca.community = cb.community
  GROUP BY p.phase, ca.community
),
qdeg AS (
  SELECT c.phase, c.community, CAST(SUM(d.k) AS BIGINT) AS dtot
  FROM q_of c JOIN deg d USING (node) GROUP BY c.phase, c.community
),
qnum AS (
  SELECT qdeg.phase,
         CAST(SUM(m2t.m2 * COALESCE(qin.in_edges, 0) - qdeg.dtot * qdeg.dtot)
              AS BIGINT) AS qn
  FROM qdeg
  LEFT JOIN qin ON qin.phase = qdeg.phase AND qin.community = qdeg.community
  CROSS JOIN m2t
  GROUP BY qdeg.phase
)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM communities) AS n_nodes,
       (SELECT CAST(SUM(CASE WHEN b.new_community <> c.community THEN 1 ELSE 0 END)
                    AS BIGINT)
        FROM best b JOIN communities c USING (node)) AS n_moved,
       (SELECT qn FROM qnum WHERE phase = 'before') AS q_before_num,
       (SELECT qn FROM qnum WHERE phase = 'after') AS q_after_num,
       (SELECT m2 * m2 FROM m2t) AS q_den,
       (SELECT CAST(COUNT(DISTINCT community) AS BIGINT) FROM communities)
         AS n_comms_before,
       (SELECT CAST(COUNT(DISTINCT community) AS BIGINT) FROM after)
         AS n_comms_after
""",
)
def q491_louvain_local_move(spark, sf_dir):
    """LOUVAIN LOCAL-MOVE SWEEP over the LPA partition (Blondel et al.
    2008, phase 1, one synchronous pass — the modularity-ASCENT
    refinement LPA lacks: LPA votes by neighbor majority, blind to the
    degree-penalty term, so it happily keeps hub-heavy megaclusters
    that a single gain-driven sweep splits): every node evaluates
    moving to each neighbor community, gain kept EXACT as the BIGINT
    score m2*e_ic - k_i*(dtot_c - [c = own]*k_i), argmax with
    deterministic (score DESC, community ASC) tie-break, all moves
    applied synchronously against the original partition. The ledger
    reports exact-rational modularity before and after (q152's integer
    scheme) and the move count — synchronous sweeps can oscillate, so
    the honest contract is measure-don't-assume: the oracle pins
    whatever Q-delta this corpus produces.

    Scale shape: one edges-to-communities equi-join for e_ic (O(E)
    rows, map-side combinable), two bounded ledgers (degree, community
    degree-sum), one per-node argmax — the same per-round cost as one
    LPA iteration; nothing quadratic, no collect."""
    edges, communities, deg, m2t, best, after = _louvain_after_frames(
        spark, sf_dir
    )

    def q_num(part):
        qin = (
            edges.join(
                part.select(F.col("node").alias("src"), F.col("community").alias("ca")),
                "src",
            )
            .join(
                part.select(F.col("node").alias("dst"), F.col("community").alias("cb")),
                "dst",
            )
            .where(F.col("ca") == F.col("cb"))
            .groupBy(F.col("ca").alias("community"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("in_edges"))
        )
        qdeg = (
            part.join(deg, "node")
            .groupBy("community")
            .agg(F.sum("k").cast("bigint").alias("dtot"))
        )
        return (
            qdeg.join(qin, "community", "left")
            .crossJoin(F.broadcast(m2t))
            .agg(
                F.sum(
                    F.col("m2") * F.coalesce("in_edges", F.lit(0).cast("bigint"))
                    - F.col("dtot") * F.col("dtot")
                )
                .cast("bigint")
                .alias("qn")
            )
        )

    n_nodes = communities.agg(F.count(F.lit(1)).cast("bigint").alias("n_nodes"))
    n_moved = (
        best.join(communities, "node")
        .agg(
            F.sum(
                F.when(F.col("new_community") != F.col("community"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_moved")
        )
    )
    ncb = communities.agg(
        F.countDistinct("community").cast("bigint").alias("n_comms_before")
    )
    nca = after.agg(
        F.countDistinct("community").cast("bigint").alias("n_comms_after")
    )
    qb = q_num(communities).withColumnRenamed("qn", "q_before_num")
    qa = q_num(after).withColumnRenamed("qn", "q_after_num")
    qd = m2t.select((F.col("m2") * F.col("m2")).alias("q_den"))
    return (
        n_nodes.crossJoin(F.broadcast(n_moved))
        .crossJoin(F.broadcast(qb))
        .crossJoin(F.broadcast(qa))
        .crossJoin(F.broadcast(qd))
        .crossJoin(F.broadcast(ncb))
        .crossJoin(F.broadcast(nca))
    )


_NNDC_AMP = 60000  # additive-noise amplitude on the quantized integers
_NNDC_COPIES = 4


def _nndc_base_sql() -> str:
    q_sub = (
        "(SELECT vec_id, list_transform(embedding,"
        f" x -> CAST(ROUND(CAST(x AS DOUBLE) * {QUANT}) AS BIGINT)) AS qv"
        " FROM embeddings)"
    )
    copies = "\n  UNION ALL\n".join(
        f"""  SELECT vec_id * 10 + {c} AS vec_id,
         [qv[i] + ((vec_id * 7 + (i - 1) * 13 + {c * 5}) % {2 * _NNDC_AMP + 1} - {_NNDC_AMP})
          for i in generate_series(1, len(qv))] AS v
  FROM {q_sub}"""
        for c in range(1, _NNDC_COPIES + 1)
    )
    return f"""base AS MATERIALIZED (
  SELECT vec_id * 10 AS vec_id, qv AS v FROM {q_sub}
  UNION ALL
{copies}
)"""


@query(
    "q496_nnd_clustered_recall",
    oracle=_nnd_recall_oracle_sql(
        base_sql=_nndc_base_sql(),
        probe_pred="{a}.vec_id % 10 = 0 AND {a}.vec_id < 400",
    ),
)
def q496_nnd_clustered_recall(spark, sf_dir):
    """NN-DESCENT ON A CLUSTERED CORPUS (the companion measurement
    q484 demands: that harness showed iterations buy ZERO recall on
    the near-isotropic driver corpus — this one plants the structure
    NN-descent exists for and measures the win): every vector gets 4
    additive-noise copies on the QUANTIZED integers (deterministic
    alternating-sign noise, amplitude 0.6x the component scale —
    additive noise flips hyperplane sign bits, unlike the positive
    RESCALING of q482's corpus, which r9 measured to be bucket-
    coherent), then the same four arms as q484. Measured at sf0.01:
    single-band 4/120 -> two-band init 13/120 -> +1 iteration 15/120
    -> +2 iterations 17/120 — the iteration dial earns its cost
    exactly when the corpus is clustered, and the q484/q496 pair is
    the evidence for WHEN to turn it on.

    Exactness: the planted corpus is integer arithmetic end-to-end
    (noise added to quantized components), so clusters, buckets, and
    cosines replay bit-for-bit in SQL."""
    from variantcalling_spark.operators.similarity import (
        cosine_topk,
        knn_graph,
        nn_descent_graphs,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.select(
        F.col("vec_id").alias("src_id"), _quantize(F.col("embedding")).alias("qv")
    )
    corpus_q = base.select(
        (F.col("src_id") * 10).alias("vec_id"), F.col("qv").alias("v")
    )

    def noise(c):
        return lambda x, i: x + (
            (F.col("src_id") * 7 + i * 13 + c * 5) % (2 * _NNDC_AMP + 1)
            - _NNDC_AMP
        )

    for c in range(1, _NNDC_COPIES + 1):
        corpus_q = corpus_q.unionByName(
            base.select(
                (F.col("src_id") * 10 + c).alias("vec_id"),
                F.transform("qv", noise(c)).alias("v"),
            )
        )
    cor = corpus_q.select(
        "vec_id",
        F.transform("v", lambda x: x / float(QUANT)).alias("embedding"),
    ).transform(managed_persist)

    probes = cor.where((F.col("vec_id") % 10 == 0) & (F.col("vec_id") < 400))
    ex = (
        cosine_topk(probes, cor, k=_NND_K)
        .select("query_id", "cand_id")
        .transform(managed_persist)
    )
    nex = ex.agg(F.count(F.lit(1)).cast("bigint").alias("n_exact"))

    def arm(edges, method):
        edges = edges.transform(managed_persist)
        g = edges.where(
            (F.col("vec_id") % 10 == 0) & (F.col("vec_id") < 400)
        ).select("vec_id", "neighbor_id")
        hit = ex.join(
            g,
            (ex.query_id == g.vec_id) & (ex.cand_id == g.neighbor_id),
            "left_semi",
        ).agg(F.count(F.lit(1)).cast("bigint").alias("n_hit"))
        mean_cos = edges.agg(
            F.round(
                F.sum(
                    F.round(F.col("cosine"), 9).cast("decimal(24,12)")
                ).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("mean_graph_cosine")
        )
        return (
            nex.crossJoin(F.broadcast(hit))
            .crossJoin(F.broadcast(mean_cos))
            .select(
                F.lit(method).alias("method"),
                "n_exact",
                "n_hit",
                F.round(
                    F.col("n_hit") / F.col("n_exact").cast("double"), 6
                ).alias("recall_at_k"),
                "mean_graph_cosine",
            )
        )

    sb = knn_graph(cor, k=_NND_K, prefix_bits=_NND_BITS)
    # one shared refinement chain for all three NN-descent arms (q484's
    # shape): the list's intermediates ARE the iteration arms
    g0, g1, g2 = nn_descent_graphs(
        cor, k=_NND_K, band_bits=_NND_BITS, iterations=2
    )
    return (
        arm(sb, "a_single_band")
        .unionByName(arm(g0, "b_mb_init"))
        .unionByName(arm(g1, "c_nnd_iter1"))
        .unionByName(arm(g2, "d_nnd_iter2"))
    )


def _connectivity_audit_oracle_sql() -> str:
    # EXACT oracle (r9 advice fix): the previous 12 unrolled propagation
    # rounds could report n_unconverged > 0 on a corpus whose largest
    # community has diameter > 12 — a by-design false red against the
    # Spark side's exact union-find. A recursive-CTE transitive closure
    # (legal because the MIN aggregate happens AFTER the recursion) runs
    # to the fixpoint regardless of diameter, so both engines are now
    # exact and the round-budget column is gone.
    return (
        _louvain_after_cte_sql()
        + """,
intra AS MATERIALIZED (
  SELECT e.src, e.dst
  FROM edges e
  JOIN after a ON a.node = e.src
  JOIN after b ON b.node = e.dst AND b.community = a.community
),
reach AS MATERIALIZED (
  SELECT node, MIN(lab) AS lab FROM (
    WITH RECURSIVE r(node, lab) AS (
      SELECT node, node AS lab FROM after
      UNION
      SELECT e.src, r.lab FROM intra e JOIN r ON r.node = e.dst
    )
    SELECT node, lab FROM r
  ) GROUP BY node
),
pieces AS (
  SELECT a.community, CAST(COUNT(DISTINCT r.lab) AS BIGINT) AS n_pieces,
         CAST(COUNT(*) AS BIGINT) AS n_nodes
  FROM after a JOIN reach r USING (node)
  GROUP BY a.community
)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM pieces WHERE n_nodes >= 2)
         AS n_comms,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM pieces
        WHERE n_nodes >= 2 AND n_pieces > 1) AS n_disconnected,
       (SELECT CAST(MAX(n_pieces) AS BIGINT) FROM pieces WHERE n_nodes >= 2)
         AS max_pieces,
       (SELECT CAST(SUM(n_nodes) AS BIGINT) FROM pieces
        WHERE n_nodes >= 2 AND n_pieces > 1) AS nodes_in_disconnected
"""
    )


@query("q500_community_connectivity_audit", oracle=_connectivity_audit_oracle_sql())
def q500_community_connectivity_audit(spark, sf_dir):
    """COMMUNITY CONNECTIVITY AUDIT — the Leiden paper's core finding
    measured on OUR pipeline (Traag et al. 2019: Louvain's local move
    can leave a community INTERNALLY DISCONNECTED — nodes grouped by
    modularity gain with no intra-community path — up to 25% of
    communities in their benchmarks; Leiden's refinement phase exists
    solely to fix this): within each q491 post-move community, compute
    EXACT connected components over the INTRA-community edges only and
    count communities that split into >1 piece. Both engines are exact
    — Spark via per-community union-find (with the distributed
    star-contraction fallback for oversized communities), DuckDB via a
    recursive-CTE transitive closure that runs to the fixpoint — so no
    round budget exists to under-converge on a deep community (the r9
    advice false-alarm class).

    Scale shape: the intra-edge relation is one double equi-join of
    edges to the partition; the component fold is one grouped Arrow
    kernel for bounded communities and O(log n) contraction rounds for
    the oversized tail."""
    edges, _, _, _, _, after = _louvain_after_frames(spark, sf_dir)

    intra = (
        edges.join(
            after.select(F.col("node").alias("src"), F.col("community").alias("ca")),
            "src",
        )
        .join(
            after.select(F.col("node").alias("dst"), F.col("community").alias("cb")),
            "dst",
        )
        .where(F.col("ca") == F.col("cb"))
        .select(F.col("ca").alias("community"), "src", "dst")
    )
    # one grouped Arrow kernel instead of join-per-round propagation:
    # communities are small, so each is a single union-find batch
    from variantcalling_spark.operators.kernels import community_components

    rows = intra.select(
        "community", F.col("src").alias("a"), F.col("dst").alias("b")
    ).unionByName(
        after.select(
            "community", F.col("node").alias("a"), F.lit(-1).cast("bigint").alias("b")
        )
    )
    pieces = community_components(rows).where(F.col("n_nodes") >= 2).transform(
        managed_persist
    )
    return pieces.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_comms"),
        F.sum(F.when(F.col("n_pieces") > 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_disconnected"),
        F.max("n_pieces").cast("bigint").alias("max_pieces"),
        F.sum(F.when(F.col("n_pieces") > 1, F.col("n_nodes")).otherwise(0))
        .cast("bigint")
        .alias("nodes_in_disconnected"),
    )


def _inc_knn_oracle_sql(prefix_bits: int = 6, dim: int = 64, k: int = 3) -> str:
    """FULL-REBUILD oracle for the incremental graph: the q132 chain
    over the UNION corpus. Incremental == rebuild is exact, not
    approximate — band keys are static, so the union's in-bucket pair
    set is exactly (old x old) + (new x union), which is what the
    incremental path scores."""
    from variantcalling_spark.operators.similarity import _plane_signs

    signs = _plane_signs(prefix_bits, dim)

    def plane_vec(p):
        return "[" + ",".join(f"{signs[d][p]:.1f}" for d in range(dim)) + "]"

    sums = ",\n         ".join(
        f"list_dot_product(vd, {plane_vec(p)}) AS s{p}" for p in range(prefix_bits)
    )
    bucket = " + ".join(
        f"(CASE WHEN s{p} > 0 THEN {2**p} ELSE 0 END)" for p in range(prefix_bits)
    )
    return f"""
WITH q AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * {QUANT}) AS BIGINT)) AS qv
  FROM embeddings
),
uni AS (
  SELECT vec_id, qv AS v FROM q
  UNION ALL
  SELECT vec_id + 100000 AS vec_id,
         [qv[i] * (10 + (vec_id + i - 1) % 7 - 3)
          for i in generate_series(1, len(qv))] AS v
  FROM q WHERE vec_id % 10 = 0
  UNION ALL
  SELECT vec_id + 300000 AS vec_id, list_transform(qv, x -> -x) AS v
  FROM q WHERE vec_id % 7 = 0
),
sig AS (
  SELECT vec_id, v, {sums}
  FROM (SELECT vec_id, v, list_transform(v, x -> CAST(x AS DOUBLE)) AS vd FROM uni)
),
bk AS (SELECT vec_id, v, {bucket} AS bucket FROM sig),
scored AS (
  SELECT a.vec_id AS vec_id, c.vec_id AS neighbor_id,
         list_dot_product(a.v, c.v)
           / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(c.v, c.v))) AS cosine
  FROM bk a JOIN bk c ON a.bucket = c.bucket AND a.vec_id <> c.vec_id
)
SELECT vec_id, neighbor_id, cosine, rank FROM (
  SELECT *, CAST(ROW_NUMBER() OVER (
    PARTITION BY vec_id ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
  FROM scored
) WHERE rank <= {k}
"""


@query("q502_incremental_knn_graph", oracle=_inc_knn_oracle_sql())
def q502_incremental_knn_graph(spark, sf_dir):
    """INCREMENTAL kNN-GRAPH MAINTENANCE AT INGEST (the GRAPH member
    of the ingest matrix — q122 maintains the dedup index, q482 the
    semantic index, this maintains the kNN graph SemDeDup/MP/LPA all
    ride): an arriving batch (integer rescales + negated vectors)
    probes the stored single-band bucketing; only (new x union)
    in-bucket pairs are scored — in BOTH directions, so existing
    vectors' neighborhoods update when a new arrival beats their
    current top-k — and the result is re-ranked against the stored
    edges. The oracle is the FULL REBUILD over the union corpus, and
    the match is EXACT, not approximate: band keys are static, so the
    union's in-bucket pair set is precisely (old x old) + (new x
    union), which is what the incremental path scores. Cost per
    ingest: O(|batch| + collisions) instead of re-scoring the corpus.

    Scale shape: the stored graph and the stored bucketed relation
    are read, never re-joined against themselves; the probe is one
    equi-join on bucket; the merge is the NN-descent union/max/top-k
    shape."""
    from pyspark.sql import Window as W

    from variantcalling_spark.operators.similarity import (
        _band_slices_arrow,
        _cosine_prenorm_arrow,
        _dot,
        knn_graph,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.select("vec_id", _quantize(F.col("embedding")).alias("v"))
    rescaled = (
        q.where(F.col("vec_id") % 10 == 0)
        .select(
            "vec_id",
            F.transform(
                "v", lambda x, i: x * (10 + (F.col("vec_id") + i) % 7 - 3)
            ).alias("v"),
        )
        .select((F.col("vec_id") + 100000).alias("vec_id"), "v")
    )
    negated = q.where(F.col("vec_id") % 7 == 0).select(
        (F.col("vec_id") + 300000).alias("vec_id"),
        F.transform("v", lambda x: -x).alias("v"),
    )
    new = rescaled.unionByName(negated)

    # stored state: the old graph + the old bucketed relation
    old_graph = _knn3_fixed6(spark, sf_dir).select(
        "vec_id", "neighbor_id", "cosine"
    ).transform(managed_persist)
    bucket = _band_slices_arrow(6, 1)

    def keyed(vdf):
        return vdf.select(
            "vec_id",
            "v",
            F.element_at(bucket(F.col("v")), 1).alias("bucket"),
            F.sqrt(_dot(F.col("v"), F.col("v")).cast("double")).alias("norm"),
        )

    old_b = keyed(q).transform(managed_persist)
    new_b = keyed(new).transform(managed_persist)
    uni_b = old_b.unionByName(new_b)

    n, u = new_b.alias("n"), uni_b.alias("u")
    probe = (
        n.join(u, (F.col("n.bucket") == F.col("u.bucket"))
               & (F.col("n.vec_id") != F.col("u.vec_id")))
        .select(
            F.col("n.vec_id").alias("vec_id"),
            F.col("u.vec_id").alias("neighbor_id"),
            _cosine_prenorm_arrow()(
                F.col("n.v"), F.col("u.v"), F.col("n.norm"), F.col("u.norm")
            ).alias("cosine"),
        )
    )
    # both directions: new vectors' own neighborhoods AND existing
    # vectors seeing the arrivals
    both = probe.unionByName(
        probe.select(
            F.col("neighbor_id").alias("vec_id"),
            F.col("vec_id").alias("neighbor_id"),
            "cosine",
        )
    ).where(F.col("vec_id") != F.col("neighbor_id"))
    w = W.partitionBy("vec_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        old_graph.unionByName(both)
        .groupBy("vec_id", "neighbor_id")
        .agg(F.max("cosine").alias("cosine"))
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= 3)
        .select("vec_id", "neighbor_id", "cosine", "rank")
    )


_PRH_BITS = 12  # matches adaptive_band_bits at the sf0.01 neardup corpus
_PRH_ARMS = (1, 2, 4)
_PRH_THRESHOLD = 0.9


def _prh_floor(n_bands: int) -> float:
    """Planner floor 1-(1-p^bits)^b at the threshold, the number
    ``planned_bands_for_recall`` inverts — a plan constant emitted as a
    literal on both engines (it depends on no data)."""
    import math

    p = 1.0 - math.acos(_PRH_THRESHOLD) / math.pi
    return round(1.0 - (1.0 - p**_PRH_BITS) ** n_bands, 6)


def _planner_recall_oracle_sql(dim: int = 64) -> str:
    from variantcalling_spark.operators.similarity import _plane_signs

    max_planes = _PRH_BITS * max(_PRH_ARMS)
    signs = _plane_signs(max_planes, dim)

    def plane_vec(p):
        return "[" + ",".join(f"{signs[d][p]:.1f}" for d in range(dim)) + "]"

    sums = ",\n         ".join(
        f"list_dot_product(vd, {plane_vec(p)}) AS s{p}" for p in range(max_planes)
    )

    def bucket_expr(band):
        return " + ".join(
            f"(CASE WHEN s{band * _PRH_BITS + j} > 0 THEN {2**j} ELSE 0 END)"
            for j in range(_PRH_BITS)
        )

    arms = []
    for b in _PRH_ARMS:
        band_selects = "\n    UNION ALL\n".join(
            f"    SELECT vec_id, v, {band} AS band, {bucket_expr(band)} AS bucket FROM sig"
            for band in range(b)
        )
        arms.append(f"""SELECT {b} AS n_bands, {b * _PRH_BITS} AS n_planes,
       (SELECT n FROM exact_n) AS n_true,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM (
          SELECT DISTINCT a.vec_id, b.vec_id
          FROM (
{band_selects}
          ) a JOIN (
{band_selects}
          ) b ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id
          WHERE list_dot_product(a.v, b.v)
                  / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
                >= {_PRH_THRESHOLD}
        )) AS n_found,
       CAST({_prh_floor(b)} AS DOUBLE) AS pred_floor""")
    arm_sql = "\nUNION ALL\n".join(arms)
    return f"""
WITH corpus AS ({NEARDUP_SQL_CORPUS}),
sig AS (
  SELECT vec_id, v,
         {sums}
  FROM (SELECT vec_id, v, list_transform(v, x -> CAST(x AS DOUBLE)) AS vd FROM corpus)
),
exact_n AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n
  FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
  WHERE list_dot_product(a.v, b.v)
          / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
        >= {_PRH_THRESHOLD}
)
SELECT n_bands, n_planes, n_true, n_found,
       ROUND(n_found / CAST(n_true AS DOUBLE), 6) AS recall,
       pred_floor
FROM ({arm_sql})
ORDER BY n_bands
"""


@query("q504_planner_recall_harness", oracle=_planner_recall_oracle_sql())
def q504_planner_recall_harness(spark, sf_dir):
    """PLANNER RECALL HARNESS — the empirical grading loop for
    ``planned_bands_for_recall`` (the q463 sensitivity-harness shape
    applied to the COSINE family): run the banded discovery at 1/2/4
    bands of the same 12-bit width over the near-dup corpus, count
    discovered true pairs against the exact all-pairs baseline, and
    emit the planner's at-threshold floor beside each measured recall.
    The invariants the planner relies on become value-oracled facts:
    recall is monotone in bands, and empirical recall >= the floor
    (true pairs sit ABOVE the threshold, the floor prices the worst
    one). The arms share plane prefixes (splitmix64 plane p is the
    same at any n_planes), so the oracle computes one 48-plane
    signature CTE and each arm reads its prefix.

    Scale shape: each arm is the q74/q129 discovery plan (banded
    bucket self-join + verify, candidate-linear); the exact baseline
    is the pilot-sized all-pairs pass a production planner runs on a
    sample, never on the corpus."""
    from variantcalling_spark.operators.similarity import (
        banded_near_dup_pairs,
        cosine_near_dup_pairs,
    )

    c = neardup_corpus(spark, sf_dir).transform(managed_persist)
    n_true = cosine_near_dup_pairs(c, _PRH_THRESHOLD).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_true")
    )
    arms = None
    for b in _PRH_ARMS:
        found = banded_near_dup_pairs(
            c, _PRH_THRESHOLD, n_planes=_PRH_BITS * b, n_bands=b
        ).agg(F.count(F.lit(1)).cast("bigint").alias("n_found"))
        arm = (
            n_true.crossJoin(F.broadcast(found))
            .select(
                F.lit(b).cast("int").alias("n_bands"),
                F.lit(b * _PRH_BITS).cast("int").alias("n_planes"),
                "n_true",
                "n_found",
                F.round(
                    F.col("n_found") / F.col("n_true").cast("double"), 6
                ).alias("recall"),
                F.lit(_prh_floor(b)).cast("double").alias("pred_floor"),
            )
        )
        arms = arm if arms is None else arms.unionByName(arm)
    return arms


def _leiden_refined_frames(spark, sf_dir):
    """Spark side of ``_leiden_refined_cte_sql``: the local-move
    partition split into connected pieces. Returns (edges, deg, m2t,
    after, refined) with ``refined(node, community, rc)``
    localCheckpoint'd — rc is the piece-minimum node id, matching the
    oracle's closure labels."""
    return _memoized(
        "leiden_refined", spark, sf_dir, lambda: _build_leiden_refined(spark, sf_dir)
    )


def _build_leiden_refined(spark, sf_dir):
    edges, _, deg, m2t, _, after = _louvain_after_frames(spark, sf_dir)
    refined = _refine_pieces_grouped(edges, after)
    return edges, deg, m2t, after, refined


def _super_sweep_frames(edges, deg, m2t, ref):
    """Leiden AGGREGATE-LEVEL sweep as a reusable step: collapse each
    refined piece of ``ref(node, community, rc)`` into a supernode
    (weight-degree = member degree sum; inter-supernode weights =
    cross-piece edge counts, self-loops excluded), initialize the
    super-level partition from ``ref.community``, run ONE synchronous
    weighted local-move sweep. Returns (sinit, sdeg, sbest, safter,
    swept) where ``swept(node, community)`` is the induced node-level
    partition, localCheckpoint'd. Shared by q506 (which ledgers one
    sweep) and q519 (which iterates sweep+refine to a fixpoint)."""
    from pyspark.sql import Window as W

    sdeg = (
        ref.join(deg, "node")
        .groupBy("rc")
        .agg(F.sum("k").cast("bigint").alias("kk"))
        .transform(managed_persist)
    )
    sedges = (
        edges.join(
            ref.select(F.col("node").alias("src"), F.col("rc").alias("ssrc")),
            "src",
        )
        .join(
            ref.select(F.col("node").alias("dst"), F.col("rc").alias("sdst")),
            "dst",
        )
        .where(F.col("ssrc") != F.col("sdst"))
        .groupBy("ssrc", "sdst")
        .agg(F.count(F.lit(1)).cast("bigint").alias("w"))
    )
    sinit = ref.select("rc", "community").distinct().transform(managed_persist)
    sdsum = (
        sinit.join(sdeg, "rc")
        .groupBy("community")
        .agg(F.sum("kk").cast("bigint").alias("dtot"))
    )
    snc = (
        sedges.join(
            sinit.select(F.col("rc").alias("sdst"), F.col("community").alias("cand")),
            "sdst",
        )
        .groupBy(F.col("ssrc").alias("rc"), "cand")
        .agg(F.sum("w").cast("bigint").alias("e_ic"))
    )
    scand = (
        snc.unionByName(
            sinit.select(
                "rc",
                F.col("community").alias("cand"),
                F.lit(0).cast("bigint").alias("e_ic"),
            )
        )
        .groupBy("rc", "cand")
        .agg(F.max("e_ic").alias("e_ic"))
    )
    sscored = (
        scand.join(sdeg, "rc")
        .join(sinit.withColumnRenamed("community", "cur"), "rc")
        .join(sdsum.withColumnRenamed("community", "cand"), "cand")
        .crossJoin(F.broadcast(m2t))
        .select(
            "rc",
            "cand",
            (
                F.col("m2") * F.col("e_ic")
                - F.col("kk")
                * (
                    F.col("dtot")
                    - F.when(F.col("cand") == F.col("cur"), F.col("kk")).otherwise(
                        F.lit(0).cast("bigint")
                    )
                )
            ).alias("score"),
        )
    )
    # sbest/safter each feed two consumers (q506's move ledger + the
    # induced partition; level count + swept) — lazy checkpoints keep
    # the super-sweep chain out of every consumer's static plan
    sbest = (
        sscored.withColumn(
            "rn",
            F.row_number().over(W.partitionBy("rc").orderBy(F.desc("score"), "cand")),
        )
        .where(F.col("rn") == 1)
        .select("rc", F.col("cand").alias("new_community"))
        .transform(lineage_cut)
    )
    safter = sinit.join(sbest, "rc", "left").select(
        "rc", F.coalesce("new_community", "community").alias("community")
    ).transform(lineage_cut)
    swept = ref.select("node", "rc").join(safter, "rc").select(
        "node", "community"
    ).localCheckpoint()
    return sinit, sdeg, sbest, safter, swept


def _leiden_refined_cte_sql() -> str:
    """``_louvain_after_cte_sql`` + the refinement CTEs, ending with
    ``refined(node, community, rc)`` — shared by q505 (refinement
    ledger) and q506 (aggregate-level move)."""
    return (
        _louvain_after_cte_sql()
        + """,
intra AS MATERIALIZED (
  SELECT e.src, e.dst
  FROM edges e
  JOIN after a ON a.node = e.src
  JOIN after b ON b.node = e.dst AND b.community = a.community
),
reach AS MATERIALIZED (
  SELECT node, MIN(lab) AS lab FROM (
    WITH RECURSIVE r(node, lab) AS (
      SELECT node, node AS lab FROM after
      UNION
      SELECT e.src, r.lab FROM intra e JOIN r ON r.node = e.dst
    )
    SELECT node, lab FROM r
  ) GROUP BY node
),
refined AS MATERIALIZED (
  SELECT a.node, a.community, r.lab AS rc FROM after a JOIN reach r USING (node)
)"""
    )


def _leiden_refinement_oracle_sql() -> str:
    return (
        _leiden_refined_cte_sql()
        + """,
rin AS (
  SELECT ra.rc, CAST(COUNT(*) AS BIGINT) AS in_edges
  FROM edges e
  JOIN refined ra ON ra.node = e.src
  JOIN refined rb ON rb.node = e.dst AND rb.rc = ra.rc
  GROUP BY ra.rc
),
rdeg AS (
  SELECT r.rc, CAST(SUM(d.k) AS BIGINT) AS dtot
  FROM refined r JOIN deg d USING (node) GROUP BY r.rc
),
ain AS (
  SELECT aa.community, CAST(COUNT(*) AS BIGINT) AS in_edges
  FROM edges e
  JOIN after aa ON aa.node = e.src
  JOIN after ab ON ab.node = e.dst AND ab.community = aa.community
  GROUP BY aa.community
),
adeg AS (
  SELECT a.community, CAST(SUM(d.k) AS BIGINT) AS dtot
  FROM after a JOIN deg d USING (node) GROUP BY a.community
),
qr AS (
  SELECT CAST(SUM(m2t.m2 * COALESCE(rin.in_edges, 0) - rdeg.dtot * rdeg.dtot)
              AS BIGINT) AS qn
  FROM rdeg LEFT JOIN rin USING (rc) CROSS JOIN m2t
),
qa AS (
  SELECT CAST(SUM(m2t.m2 * COALESCE(ain.in_edges, 0) - adeg.dtot * adeg.dtot)
              AS BIGINT) AS qn
  FROM adeg LEFT JOIN ain USING (community) CROSS JOIN m2t
),
splits AS (
  SELECT community, COUNT(DISTINCT rc) AS n_pieces FROM refined GROUP BY community
)
SELECT (SELECT CAST(COUNT(DISTINCT community) AS BIGINT) FROM after)
         AS n_comms_move,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM splits WHERE n_pieces > 1)
         AS n_split,
       (SELECT CAST(COUNT(DISTINCT rc) AS BIGINT) FROM refined)
         AS n_comms_refine,
       (SELECT qn FROM qa) AS q_move_num,
       (SELECT qn FROM qr) AS q_refine_num,
       (SELECT m2 * m2 FROM m2t) AS q_den
"""
    )


@query("q505_leiden_refinement", oracle=_leiden_refinement_oracle_sql())
def q505_leiden_refinement(spark, sf_dir):
    """LEIDEN-STYLE REFINEMENT of the Louvain local-move partition
    (Traag et al. 2019's fix for exactly the pathology q500 measured —
    50 of 102 post-move communities internally disconnected): split
    every community into its connected pieces over the intra-community
    edges, so the refined partition carries Leiden's guarantee that
    every community is internally connected. Splitting a community
    never changes its intra-edge total and strictly shrinks the
    degree-penalty term (dtot^2 > sum dtot_piece^2 whenever a split
    piece has positive degree), so exact-rational modularity can only
    RISE: q_refine_num >= q_move_num is a theorem, pinned executable
    in tests alongside this full value oracle.

    Refined community ids are the piece-minimum node ids on both
    engines (the union-find's piece minimum = the closure's MIN(lab)), so
    the partitions — not just the Q numbers — are comparable.

    Scale shape: components over the intra-edge relation via one
    grouped Arrow union-find per community (``community_piece_labels``);
    each modularity side is one edges-to-partition double equi-join +
    two bounded ledgers — O(E), map-side combinable, no collect."""
    edges, deg, m2t, after, refined = _leiden_refined_frames(spark, sf_dir)

    def q_numerator(part, key):
        qin = (
            edges.join(
                part.select(F.col("node").alias("src"), F.col(key).alias("ca")),
                "src",
            )
            .join(
                part.select(F.col("node").alias("dst"), F.col(key).alias("cb")),
                "dst",
            )
            .where(F.col("ca") == F.col("cb"))
            .groupBy(F.col("ca").alias("c"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("in_edges"))
        )
        qdeg = (
            part.join(deg, "node")
            .groupBy(F.col(key).alias("c"))
            .agg(F.sum("k").cast("bigint").alias("dtot"))
        )
        return (
            qdeg.join(qin, "c", "left")
            .crossJoin(F.broadcast(m2t))
            .agg(
                F.sum(
                    F.col("m2") * F.coalesce("in_edges", F.lit(0).cast("bigint"))
                    - F.col("dtot") * F.col("dtot")
                )
                .cast("bigint")
                .alias("qn")
            )
        )

    n_move = after.agg(
        F.countDistinct("community").cast("bigint").alias("n_comms_move")
    )
    n_split = (
        refined.groupBy("community")
        .agg(F.countDistinct("rc").alias("n_pieces"))
        .agg(
            F.sum(F.when(F.col("n_pieces") > 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_split")
        )
    )
    n_refine = refined.agg(
        F.countDistinct("rc").cast("bigint").alias("n_comms_refine")
    )
    qa = q_numerator(after, "community").withColumnRenamed("qn", "q_move_num")
    qr = q_numerator(refined, "rc").withColumnRenamed("qn", "q_refine_num")
    qd = m2t.select((F.col("m2") * F.col("m2")).alias("q_den"))
    return (
        n_move.crossJoin(F.broadcast(n_split))
        .crossJoin(F.broadcast(n_refine))
        .crossJoin(F.broadcast(qa))
        .crossJoin(F.broadcast(qr))
        .crossJoin(F.broadcast(qd))
    )


def _leiden_aggregate_oracle_sql() -> str:
    return (
        _leiden_refined_cte_sql()
        + """,
sdeg AS MATERIALIZED (
  SELECT r.rc, CAST(SUM(d.k) AS BIGINT) AS kk
  FROM refined r JOIN deg d USING (node) GROUP BY r.rc
),
sedges AS MATERIALIZED (
  SELECT ra.rc AS ssrc, rb.rc AS sdst, CAST(COUNT(*) AS BIGINT) AS w
  FROM edges e
  JOIN refined ra ON ra.node = e.src
  JOIN refined rb ON rb.node = e.dst
  WHERE ra.rc <> rb.rc
  GROUP BY ra.rc, rb.rc
),
sinit AS MATERIALIZED (SELECT DISTINCT rc, community FROM refined),
sdsum AS (
  SELECT si.community, CAST(SUM(sd.kk) AS BIGINT) AS dtot
  FROM sinit si JOIN sdeg sd USING (rc) GROUP BY si.community
),
snc AS (
  SELECT se.ssrc AS rc, sb.community AS cand, CAST(SUM(se.w) AS BIGINT) AS e_ic
  FROM sedges se JOIN sinit sb ON sb.rc = se.sdst
  GROUP BY se.ssrc, sb.community
),
scand AS (
  SELECT rc, cand, MAX(e_ic) AS e_ic FROM (
    SELECT rc, cand, e_ic FROM snc
    UNION ALL
    SELECT rc, community AS cand, CAST(0 AS BIGINT) AS e_ic FROM sinit
  ) GROUP BY rc, cand
),
sscored AS (
  SELECT c2.rc, c2.cand,
         m2t.m2 * c2.e_ic
           - sd.kk * (ds.dtot - CASE WHEN c2.cand = cur.community
                                     THEN sd.kk ELSE 0 END) AS score
  FROM scand c2
  JOIN sdeg sd ON sd.rc = c2.rc
  JOIN sinit cur ON cur.rc = c2.rc
  JOIN sdsum ds ON ds.community = c2.cand
  CROSS JOIN m2t
),
sbest AS (
  SELECT rc, cand AS new_community FROM (
    SELECT rc, cand,
           ROW_NUMBER() OVER (PARTITION BY rc ORDER BY score DESC, cand) AS rn
    FROM sscored
  ) WHERE rn = 1
),
safter AS MATERIALIZED (
  SELECT si.rc, COALESCE(sb.new_community, si.community) AS community
  FROM sinit si LEFT JOIN sbest sb USING (rc)
),
lvl2 AS MATERIALIZED (
  SELECT r.node, sa.community FROM refined r JOIN safter sa USING (rc)
),
lin AS (
  SELECT la.community, CAST(COUNT(*) AS BIGINT) AS in_edges
  FROM edges e
  JOIN lvl2 la ON la.node = e.src
  JOIN lvl2 lb ON lb.node = e.dst AND lb.community = la.community
  GROUP BY la.community
),
ldeg AS (
  SELECT l.community, CAST(SUM(d.k) AS BIGINT) AS dtot
  FROM lvl2 l JOIN deg d USING (node) GROUP BY l.community
),
ql AS (
  SELECT CAST(SUM(m2t.m2 * COALESCE(lin.in_edges, 0) - ldeg.dtot * ldeg.dtot)
              AS BIGINT) AS qn
  FROM ldeg LEFT JOIN lin USING (community) CROSS JOIN m2t
),
ain AS (
  SELECT aa.community, CAST(COUNT(*) AS BIGINT) AS in_edges
  FROM edges e
  JOIN after aa ON aa.node = e.src
  JOIN after ab ON ab.node = e.dst AND ab.community = aa.community
  GROUP BY aa.community
),
adeg AS (
  SELECT a.community, CAST(SUM(d.k) AS BIGINT) AS dtot
  FROM after a JOIN deg d USING (node) GROUP BY a.community
),
qa AS (
  SELECT CAST(SUM(m2t.m2 * COALESCE(ain.in_edges, 0) - adeg.dtot * adeg.dtot)
              AS BIGINT) AS qn
  FROM adeg LEFT JOIN ain USING (community) CROSS JOIN m2t
)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM sinit) AS n_super,
       (SELECT CAST(SUM(CASE WHEN sb.new_community <> si.community
                             THEN 1 ELSE 0 END) AS BIGINT)
        FROM sbest sb JOIN sinit si USING (rc)) AS n_super_moved,
       (SELECT CAST(COUNT(DISTINCT community) AS BIGINT) FROM safter)
         AS n_comms_level2,
       (SELECT qn FROM qa) AS q_init_num,
       (SELECT qn FROM ql) AS q_level2_num,
       (SELECT m2 * m2 FROM m2t) AS q_den
"""
    )


@query("q506_leiden_aggregate_level", oracle=_leiden_aggregate_oracle_sql())
def q506_leiden_aggregate_level(spark, sf_dir):
    """LEIDEN AGGREGATE LEVEL — the third phase of Traag et al.'s
    loop, completing the trilogy (q491 local move, q505 refinement,
    this query): collapse each REFINED community into a supernode
    (weight-degree = member degree sum; inter-supernode edge weights =
    cross-piece edge counts, self-loops excluded — they move with the
    node), initialize the level-2 partition from the NON-refined move
    partition (Leiden's init: refinement decides the aggregation
    units, the move partition decides their starting communities), and
    run ONE synchronous weighted local-move sweep at the super level.
    The ledger reports the super-graph size, how many supernodes
    merged elsewhere, and exact-rational modularity of the induced
    node-level partition before (= q505's move Q) and after.

    Scale shape: the super graph has one row per refined-community
    pair with any edge — orders of magnitude smaller than the node
    graph; every stage is an equi-join + map-side-combinable SUM on
    it, and the node-level Q evaluation is the same O(E) double
    equi-join as q491's."""
    edges, deg, m2t, after, refined = _leiden_refined_frames(spark, sf_dir)
    sinit, sdeg, sbest, safter, lvl2 = _leiden_sweep1_frames(spark, sf_dir)

    def q_numerator(part):
        qin = (
            edges.join(
                part.select(F.col("node").alias("src"), F.col("community").alias("ca")),
                "src",
            )
            .join(
                part.select(F.col("node").alias("dst"), F.col("community").alias("cb")),
                "dst",
            )
            .where(F.col("ca") == F.col("cb"))
            .groupBy(F.col("ca").alias("c"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("in_edges"))
        )
        qdeg = (
            part.join(deg, "node")
            .groupBy(F.col("community").alias("c"))
            .agg(F.sum("k").cast("bigint").alias("dtot"))
        )
        return (
            qdeg.join(qin, "c", "left")
            .crossJoin(F.broadcast(m2t))
            .agg(
                F.sum(
                    F.col("m2") * F.coalesce("in_edges", F.lit(0).cast("bigint"))
                    - F.col("dtot") * F.col("dtot")
                )
                .cast("bigint")
                .alias("qn")
            )
        )

    n_super = sinit.agg(F.count(F.lit(1)).cast("bigint").alias("n_super"))
    n_moved = (
        sbest.join(sinit, "rc")
        .agg(
            F.sum(
                F.when(F.col("new_community") != F.col("community"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_super_moved")
        )
    )
    n_l2 = safter.agg(
        F.countDistinct("community").cast("bigint").alias("n_comms_level2")
    )
    qi = q_numerator(after).withColumnRenamed("qn", "q_init_num")
    ql = q_numerator(lvl2).withColumnRenamed("qn", "q_level2_num")
    qd = m2t.select((F.col("m2") * F.col("m2")).alias("q_den"))
    return (
        n_super.crossJoin(F.broadcast(n_moved))
        .crossJoin(F.broadcast(n_l2))
        .crossJoin(F.broadcast(qi))
        .crossJoin(F.broadcast(ql))
        .crossJoin(F.broadcast(qd))
    )


_LEIDEN_LEVELS = 2


def _leiden_sweep1_frames(spark, sf_dir):
    """The FIRST super-sweep over the memoized refined substrate,
    itself memoized: q506's ledgered sweep and q519's level-1 are the
    SAME computation — without this memo each would build (and
    checkpoint) its own copy (the co-resident-consumer half of the
    verify-skill rule)."""
    return _memoized(
        "leiden_sweep1",
        spark,
        sf_dir,
        lambda: _super_sweep_frames(*_sweep1_inputs(spark, sf_dir)),
    )


def _sweep1_inputs(spark, sf_dir):
    edges, deg, m2t, _, refined = _leiden_refined_frames(spark, sf_dir)
    return edges, deg, m2t, refined


def _q_of_sql(name: str, part: str, key: str) -> str:
    """Exact-rational modularity NUMERATOR of partition CTE ``part``
    keyed by ``key`` — the q491/q505/q506 integer scheme (qn = sum over
    communities of m2*in_edges - dtot^2; Q = qn / m2^2) as a reusable
    generator, so each unrolled level prices its partition with
    byte-identical SQL."""
    return f""",
{name} AS MATERIALIZED (
  SELECT CAST(SUM(qq.m2 * COALESCE(qi.in_edges, 0) - qd.dtot * qd.dtot)
              AS BIGINT) AS qn
  FROM (
    SELECT p.{key} AS c, CAST(SUM(d.k) AS BIGINT) AS dtot
    FROM {part} p JOIN deg d USING (node) GROUP BY p.{key}
  ) qd
  LEFT JOIN (
    SELECT pa.{key} AS c, CAST(COUNT(*) AS BIGINT) AS in_edges
    FROM edges e
    JOIN {part} pa ON pa.node = e.src
    JOIN {part} pb ON pb.node = e.dst AND pb.{key} = pa.{key}
    GROUP BY pa.{key}
  ) qi USING (c)
  CROSS JOIN m2t qq
)"""


def _leiden_cycle_sql(k: int, src: str, prev_best: str) -> str:
    """One unrolled Leiden cycle (weighted super-sweep + refinement +
    strict-improvement acceptance) over input state CTE ``src``
    carrying (node, community, rc). Emits cand{k} (the cycle's
    candidate partition), qc{k} (its Q numerator), acc{k} (the
    accepted state — cand{k} on strict improvement over ``prev_best``,
    else ``src`` unchanged) and best{k} (the running best numerator).
    The sweep block is the q506 chain with suffixed names; the
    refinement closure is the q505 recursive-CTE pattern."""
    cond = f"(SELECT qn FROM qc{k}) > (SELECT b FROM {prev_best})"
    return f""",
sdeg{k} AS MATERIALIZED (
  SELECT p.rc, CAST(SUM(d.k) AS BIGINT) AS kk
  FROM {src} p JOIN deg d USING (node) GROUP BY p.rc
),
sedges{k} AS MATERIALIZED (
  SELECT ra.rc AS ssrc, rb.rc AS sdst, CAST(COUNT(*) AS BIGINT) AS w
  FROM edges e
  JOIN {src} ra ON ra.node = e.src
  JOIN {src} rb ON rb.node = e.dst
  WHERE ra.rc <> rb.rc
  GROUP BY ra.rc, rb.rc
),
sinit{k} AS MATERIALIZED (SELECT DISTINCT rc, community FROM {src}),
sdsum{k} AS (
  SELECT si.community, CAST(SUM(sd.kk) AS BIGINT) AS dtot
  FROM sinit{k} si JOIN sdeg{k} sd USING (rc) GROUP BY si.community
),
snc{k} AS (
  SELECT se.ssrc AS rc, sb.community AS cand, CAST(SUM(se.w) AS BIGINT) AS e_ic
  FROM sedges{k} se JOIN sinit{k} sb ON sb.rc = se.sdst
  GROUP BY se.ssrc, sb.community
),
scand{k} AS (
  SELECT rc, cand, MAX(e_ic) AS e_ic FROM (
    SELECT rc, cand, e_ic FROM snc{k}
    UNION ALL
    SELECT rc, community AS cand, CAST(0 AS BIGINT) AS e_ic FROM sinit{k}
  ) GROUP BY rc, cand
),
sscored{k} AS (
  SELECT c2.rc, c2.cand,
         m2t.m2 * c2.e_ic
           - sd.kk * (ds.dtot - CASE WHEN c2.cand = cur.community
                                     THEN sd.kk ELSE 0 END) AS score
  FROM scand{k} c2
  JOIN sdeg{k} sd ON sd.rc = c2.rc
  JOIN sinit{k} cur ON cur.rc = c2.rc
  JOIN sdsum{k} ds ON ds.community = c2.cand
  CROSS JOIN m2t
),
sbest{k} AS (
  SELECT rc, cand AS new_community FROM (
    SELECT rc, cand,
           ROW_NUMBER() OVER (PARTITION BY rc ORDER BY score DESC, cand) AS rn
    FROM sscored{k}
  ) WHERE rn = 1
),
safter{k} AS MATERIALIZED (
  SELECT si.rc, COALESCE(sb.new_community, si.community) AS community
  FROM sinit{k} si LEFT JOIN sbest{k} sb USING (rc)
),
swept{k} AS MATERIALIZED (
  SELECT p.node, sa.community FROM {src} p JOIN safter{k} sa ON sa.rc = p.rc
),
intra{k} AS MATERIALIZED (
  SELECT e.src, e.dst FROM edges e
  JOIN swept{k} a ON a.node = e.src
  JOIN swept{k} b ON b.node = e.dst AND b.community = a.community
),
reach{k} AS MATERIALIZED (
  SELECT node, MIN(lab) AS lab FROM (
    WITH RECURSIVE rr(node, lab) AS (
      SELECT node, node AS lab FROM swept{k}
      UNION
      SELECT e.src, rr.lab FROM intra{k} e JOIN rr ON rr.node = e.dst
    )
    SELECT node, lab FROM rr
  ) GROUP BY node
),
lcand{k} AS MATERIALIZED (
  SELECT s.node, s.community, r.lab AS rc
  FROM swept{k} s JOIN reach{k} r USING (node)
){_q_of_sql(f"qc{k}", f"lcand{k}", "rc")},
acc{k} AS MATERIALIZED (
  SELECT node, community, rc FROM lcand{k} WHERE {cond}
  UNION ALL
  SELECT node, community, rc FROM {src} WHERE NOT ({cond})
),
best{k} AS (
  SELECT CASE WHEN {cond} THEN (SELECT qn FROM qc{k})
              ELSE (SELECT b FROM {prev_best}) END AS b
)"""


def _leiden_multilevel_oracle_sql() -> str:
    cycles = "".join(
        _leiden_cycle_sql(k, "refined" if k == 1 else f"acc{k - 1}", f"best{k - 1}")
        for k in range(1, _LEIDEN_LEVELS + 1)
    )
    level_rows = "\n  UNION ALL\n".join(
        f"""  SELECT {k} AS step, 'level{k}' AS phase,
         (SELECT CAST(COUNT(DISTINCT rc) AS BIGINT) FROM lcand{k}) AS n_comms,
         (SELECT qn FROM qc{k}) AS q_num,
         (SELECT CAST(m2 * m2 AS BIGINT) FROM m2t) AS q_den,
         (SELECT qn FROM qc{k}) > (SELECT b FROM best{k - 1}) AS accepted,
         (SELECT b FROM best{k}) AS q_best_num"""
        for k in range(1, _LEIDEN_LEVELS + 1)
    )
    return (
        _leiden_refined_cte_sql()
        + _q_of_sql("qr0", "refined", "rc")
        + """,
best0 AS (SELECT qn AS b FROM qr0)"""
        + cycles
        + f"""
SELECT * FROM (
  SELECT 0 AS step, 'refine0' AS phase,
         (SELECT CAST(COUNT(DISTINCT rc) AS BIGINT) FROM refined) AS n_comms,
         (SELECT qn FROM qr0) AS q_num,
         (SELECT CAST(m2 * m2 AS BIGINT) FROM m2t) AS q_den,
         TRUE AS accepted,
         (SELECT qn FROM qr0) AS q_best_num
  UNION ALL
{level_rows}
) ORDER BY step
"""
    )


@query("q519_leiden_multilevel", oracle=_leiden_multilevel_oracle_sql())
def q519_leiden_multilevel(spark, sf_dir):
    """FULL MULTI-LEVEL LEIDEN LOOP (Traag et al. 2019, the composition
    of the r10 trilogy — q491 local move, q505 refinement, q506
    aggregate level — iterated to a guarded fixpoint): starting from
    the memoized refined partition, each level runs one weighted
    super-sweep over the current refinement's pieces followed by a
    fresh refinement of the swept partition, and ACCEPTS the level only
    on STRICT exact-integer modularity improvement. The guard is what
    makes per-level modularity monotonically non-decreasing an
    EXECUTABLE property, not a hope: synchronous sweeps oscillate
    (measured here: the level-2 sweep alone drops Q), but
    sweep-then-refine recovers more than the sweep loses, and a level
    that fails to improve leaves the state untouched — the ledger's
    q_best_num column is non-decreasing by construction (pinned in
    tests) and an accepted=false row IS the stall. Levels are capped at
    {levels} (the oracle unrolls the same budget; Leiden
    implementations cap level depth the same way).

    Ledger: one row per level — the candidate partition's community
    count and exact Q numerator, the shared denominator m2^2, the
    acceptance bit, and the running-best numerator.

    Scale shape: every level is q506's super-sweep (equi-joins +
    map-side-combinable SUMs on a graph that SHRINKS per level) plus
    q505's grouped union-find refinement; the LPA/move
    substrate is the memoized checkpoint shared with
    q491/q500/q505/q506 — built once per session, REUSED per level
    (variantcalling_spark/_memo.py). The only driver state is one
    exact-integer Q scalar per level (the acceptance comparison), the
    same bounded-convergence-state pattern as connected_components;
    the 3-row ledger is assembled from those scalars."""
    from variantcalling_spark._memo import memoized

    return memoized("q519", spark, sf_dir, lambda: _build_q519(spark, sf_dir))


q519_leiden_multilevel.__doc__ = q519_leiden_multilevel.__doc__.format(
    levels=_LEIDEN_LEVELS
)


def _build_q519(spark, sf_dir):
    edges, deg, m2t, after, refined = _leiden_refined_frames(spark, sf_dir)
    m2 = m2t.collect()[0].m2

    def q_num(part, key):
        qin = (
            edges.join(
                part.select(F.col("node").alias("src"), F.col(key).alias("ca")),
                "src",
            )
            .join(
                part.select(F.col("node").alias("dst"), F.col(key).alias("cb")),
                "dst",
            )
            .where(F.col("ca") == F.col("cb"))
            .groupBy(F.col("ca").alias("c"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("in_edges"))
        )
        qdeg = (
            part.join(deg, "node")
            .groupBy(F.col(key).alias("c"))
            .agg(F.sum("k").cast("bigint").alias("dtot"))
        )
        row = (
            qdeg.join(qin, "c", "left")
            .agg(
                F.sum(
                    F.lit(m2) * F.coalesce("in_edges", F.lit(0).cast("bigint"))
                    - F.col("dtot") * F.col("dtot")
                )
                .cast("bigint")
                .alias("qn")
            )
            .collect()[0]
        )
        return int(row.qn)

    def n_comms(part):
        return int(part.select("rc").distinct().count())

    cur = refined
    best = q_num(cur, "rc")
    rows = [(0, "refine0", n_comms(cur), best, True, best)]
    for lvl in range(1, _LEIDEN_LEVELS + 1):
        if lvl == 1:
            # level 1's sweep IS q506's — shared through the memo
            _, _, _, _, swept = _leiden_sweep1_frames(spark, sf_dir)
        else:
            _, _, _, _, swept = _super_sweep_frames(edges, deg, m2t, cur)
        cand = _refine_pieces_grouped(edges, swept)
        qc = q_num(cand, "rc")
        nc = n_comms(cand)
        accepted = qc > best
        if accepted:
            cur, best = cand, qc
        rows.append((lvl, f"level{lvl}", nc, qc, accepted, best))
    qden = int(m2) * int(m2)
    return spark.createDataFrame(
        [(s, p, n, q, qden, a, b) for (s, p, n, q, a, b) in rows],
        "step int, phase string, n_comms bigint, q_num bigint, "
        "q_den bigint, accepted boolean, q_best_num bigint",
    )


_RBO_K = 10
_RBO_P = 0.9
_RBO_PROBE_MOD = 25


def _rbo_weights() -> list[float]:
    """p^(d-1) for d = 1..k as PYTHON literals — both engines read the
    same 17-digit doubles, so no cross-engine pow() is ever evaluated."""
    return [_RBO_P ** (d - 1) for d in range(1, _RBO_K + 1)]


def _rbo_oracle_sql() -> str:
    w = _rbo_weights()
    a_cols = ",\n         ".join(
        f"CAST(SUM(CASE WHEN mr <= {d} THEN 1 ELSE 0 END) AS BIGINT) AS a{d}"
        for d in range(1, _RBO_K + 1)
    )
    expr = " + ".join(f"{w[d - 1]!r} * a{d} / {d}.0" for d in range(1, _RBO_K + 1))
    knn = _knn_graph_oracle_sql(k=_RBO_K)
    return f"""
WITH probes AS (
  SELECT vec_id AS query_id,
         list_transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * {QUANT}) AS BIGINT)) AS qv
  FROM embeddings WHERE vec_id % {_RBO_PROBE_MOD} = 0
),
cand AS (
  SELECT vec_id AS cand_id,
         list_transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * {QUANT}) AS BIGINT)) AS cv
  FROM embeddings
),
s AS (
  SELECT query_id, cand_id, rank_s FROM (
    SELECT query_id, cand_id,
           CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                ORDER BY list_dot_product(qv, cv)
                  / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) DESC,
                cand_id) AS INT) AS rank_s
    FROM probes, cand WHERE query_id <> cand_id
  ) WHERE rank_s <= {_RBO_K}
),
t AS (
  SELECT vec_id AS query_id, neighbor_id AS cand_id, rank AS rank_t
  FROM ({knn}) g WHERE vec_id % {_RBO_PROBE_MOD} = 0
),
matched AS (
  SELECT s.query_id, GREATEST(s.rank_s, t.rank_t) AS mr
  FROM s JOIN t ON t.query_id = s.query_id AND t.cand_id = s.cand_id
),
per_q AS (
  SELECT p.query_id,
         {a_cols}
  FROM probes p LEFT JOIN matched m ON m.query_id = p.query_id
  GROUP BY p.query_id
)
SELECT query_id, a{_RBO_K} AS n_overlap_at_k,
       ROUND({1.0 - _RBO_P!r} * ({expr}), 6) AS rbo
FROM per_q
ORDER BY query_id
"""


@query("q509_rank_biased_overlap", oracle=_rbo_oracle_sql())
def q509_rank_biased_overlap(spark, sf_dir):
    """RANK-BIASED OVERLAP (Webber et al. 2010) between the EXACT
    cosine top-k ranking and the single-band bucketed kNN ranking —
    the rank-aware complement of the recall@k harnesses (q375/q421/
    q478/q484 count set membership; RBO weights agreement
    geometrically toward the top, which is what a retrieval consumer
    actually feels): per probe, A_d = |exact top-d  intersect  bucket
    top-d| and RBO@k = (1-p) sum p^(d-1) A_d / d at p = 0.9, k = 10,
    truncated (raw) form — a bucket list shorter than k simply stops
    contributing, which IS the penalty for a thin bucket.

    Exactness: A_d are integer conditional sums; the p^(d-1)/d weights
    are Python-rendered 17-digit literals identical in both engines;
    the final weighted sum is one fixed-shape double expression,
    rounded at 6 dp.

    Scale shape: the exact side is a probe-sized broadcast scoring
    pass (pilot harness, never corpus x corpus); the bucket side is
    the q132 kNN-graph plan; the A_d fold is one equi-join on
    (query, cand) + ten conditional aggregates — O(probes x k)."""
    from variantcalling_spark.operators.similarity import cosine_topk, knn_graph

    emb = load_table(spark, sf_dir, "embeddings").transform(managed_persist)
    probes = emb.where(F.col("vec_id") % _RBO_PROBE_MOD == 0)
    s = cosine_topk(probes, emb, k=_RBO_K).select(
        "query_id", "cand_id", F.col("rank").alias("rank_s")
    )
    t = (
        knn_graph(emb, k=_RBO_K)
        .where(F.col("vec_id") % _RBO_PROBE_MOD == 0)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("neighbor_id").alias("cand_id"),
            F.col("rank").alias("rank_t"),
        )
    )
    matched = s.join(t, ["query_id", "cand_id"]).select(
        "query_id", F.greatest("rank_s", "rank_t").alias("mr")
    )
    w = _rbo_weights()
    a_cols = [
        F.sum(F.when(F.col("mr") <= d, 1).otherwise(0))
        .cast("bigint")
        .alias(f"a{d}")
        for d in range(1, _RBO_K + 1)
    ]
    per_q = (
        probes.select(F.col("vec_id").alias("query_id"))
        .join(matched, "query_id", "left")
        .groupBy("query_id")
        .agg(*a_cols)
    )
    expr = None
    for d in range(1, _RBO_K + 1):
        term = F.lit(w[d - 1]) * F.col(f"a{d}") / F.lit(float(d))
        expr = term if expr is None else expr + term
    return per_q.select(
        "query_id",
        F.col(f"a{_RBO_K}").alias("n_overlap_at_k"),
        F.round(F.lit(1.0 - _RBO_P) * expr, 6).alias("rbo"),
    ).orderBy("query_id")


_PDN_BITS = 8          # oracle pin: the small-corpus band width
_PDN_TARGET = 0.95     # recall floor requested from the planner
_PDN_THRESHOLD = 0.9


def _planner_driven_neardup_oracle_sql() -> str:
    from variantcalling_spark.operators.similarity import planned_bands_for_recall

    bands = planned_bands_for_recall(_PDN_THRESHOLD, _PDN_TARGET, _PDN_BITS)
    pairs_sql = _neardup_lsh_oracle_sql(
        n_planes=_PDN_BITS * bands, n_bands=bands
    )
    return f"""
WITH RECURSIVE pairs AS MATERIALIZED (
  SELECT id_a, id_b FROM ({pairs_sql}) discovered
),
edges3 AS MATERIALIZED (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM pairs
),
closure3 AS (
  SELECT src AS node, src AS reach FROM edges3
  UNION
  SELECT c.node, edges3.dst AS reach
  FROM closure3 c JOIN edges3 ON edges3.src = c.reach
),
clusters3 AS MATERIALIZED (
  SELECT MIN(reach) AS cluster_id, CAST(COUNT(DISTINCT node) AS BIGINT) AS n_members
  FROM (SELECT node, MIN(reach) AS reach FROM closure3 GROUP BY node) labeled
  GROUP BY reach
)
SELECT CAST({bands} AS INT) AS n_bands,
       CAST({_PDN_BITS * bands} AS INT) AS n_planes,
       CAST(n_members AS BIGINT) AS cluster_size,
       CAST(COUNT(*) AS BIGINT) AS n_clusters
FROM clusters3 GROUP BY n_members
ORDER BY cluster_size
"""


@query("q514_planner_driven_neardup", oracle=_planner_driven_neardup_oracle_sql())
def q514_planner_driven_neardup(spark, sf_dir):
    """PLANNER-DRIVEN NEAR-DUP CLUSTERS END-TO-END — the full
    'statistics set the physical plan' loop in one query (the AQE
    analogy the banding family is built on): the caller states a
    RECALL FLOOR (0.95 at cosine 0.9) and ``planned_bands_for_recall``
    converts it into the band count (9 bands of 8 bits = 72 planes —
    asserted, and emitted in the ledger so the chosen dial is part of
    the oracle-checked output); discovery runs at that plan; pairs
    fold into clusters via star contraction; the output is the
    cluster-size histogram a curation pipeline consumes. q497/q495
    measured the S-curve, q504 graded the planner empirically, this
    query SHIPS it as the production face.

    Exactness: the oracle recomputes the identical 72-plane banding in
    SQL (the q74/q129 machinery at the planner's dials) and the exact
    recursive-closure clusters; star contraction's labels equal the
    closure's min-ids.

    Scale shape: discovery is the banded bucket self-join (candidate
    volume per band held by the bits dial), contraction is O(log n)
    rounds with per-round localCheckpoint — nothing quadratic."""
    from variantcalling_spark.operators.dedup import connected_components
    from variantcalling_spark.operators.similarity import (
        banded_near_dup_pairs,
        planned_bands_for_recall,
    )

    bands = planned_bands_for_recall(_PDN_THRESHOLD, _PDN_TARGET, _PDN_BITS)
    assert bands == 9, "oracle is rendered for the 9-band plan"
    pairs = banded_near_dup_pairs(
        neardup_corpus(spark, sf_dir).transform(managed_persist),
        threshold=_PDN_THRESHOLD,
        n_planes=_PDN_BITS * bands,
        n_bands=bands,
    ).select("id_a", "id_b")
    labels = connected_components(pairs, id_a="id_a", id_b="id_b")
    sizes = labels.groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("cluster_size")
    )
    return (
        sizes.groupBy("cluster_size")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_clusters"))
        .select(
            F.lit(bands).cast("int").alias("n_bands"),
            F.lit(_PDN_BITS * bands).cast("int").alias("n_planes"),
            "cluster_size",
            "n_clusters",
        )
        .orderBy("cluster_size")
    )


_BC_HOPS = 4      # bounded BFS radius (q405/q425 discipline)
_BC_STRIDE = 8    # pivot sampling stride (Brandes-Pich)


def _betweenness_oracle_sql(hops: int = _BC_HOPS, stride: int = _BC_STRIDE) -> str:
    parts = [f"""
WITH {_knn_edges_cte_sql()},
f0 AS MATERIALIZED (
  SELECT vec_id AS s, vec_id AS v, CAST(0 AS BIGINT) AS dist,
         CAST(1 AS BIGINT) AS sigma
  FROM base WHERE vec_id % {stride} = 0
),
vis0 AS MATERIALIZED (SELECT * FROM f0)"""]
    for d in range(1, hops + 1):
        p = d - 1
        parts.append(f""",
f{d} AS MATERIALIZED (
  SELECT r.s, r.v, CAST({d} AS BIGINT) AS dist, CAST(SUM(r.sigma) AS BIGINT) AS sigma
  FROM (
    SELECT f.s, e.neighbor_id AS v, f.sigma
    FROM f{p} f JOIN e ON e.vec_id = f.v
  ) r
  WHERE NOT EXISTS (SELECT 1 FROM vis{p} vv WHERE vv.s = r.s AND vv.v = r.v)
  GROUP BY r.s, r.v
),
vis{d} AS MATERIALIZED (SELECT * FROM vis{p} UNION ALL SELECT * FROM f{d})""")
    parts.append(f""",
del{hops} AS MATERIALIZED (
  SELECT s, v, sigma, CAST(0.0 AS DOUBLE) AS delta
  FROM vis{hops} WHERE dist = {hops}
)""")
    for d in range(hops - 1, -1, -1):
        parts.append(f""",
del{d} AS MATERIALIZED (
  SELECT n.s, n.v, n.sigma, COALESCE(agg.x, 0.0) AS delta
  FROM (SELECT s, v, sigma FROM vis{hops} WHERE dist = {d}) n
  LEFT JOIN (
    SELECT n2.s, n2.v,
           CAST(SUM(CAST(ROUND(CAST(n2.sigma AS DOUBLE) / w.sigma
                                * (1.0 + w.delta), 9)
                          AS DECIMAL(28,9))) AS DOUBLE) AS x
    FROM (SELECT s, v, sigma FROM vis{hops} WHERE dist = {d}) n2
    JOIN e ON e.vec_id = n2.v
    JOIN del{d + 1} w ON w.s = n2.s AND w.v = e.neighbor_id
    GROUP BY n2.s, n2.v
  ) agg ON agg.s = n.s AND agg.v = n.v
)""")
    levels = "\n    UNION ALL\n    ".join(
        f"SELECT s, v, delta FROM del{d}" for d in range(1, hops + 1)
    )
    parts.append(f"""
SELECT v AS node,
       CAST(COUNT(*) AS BIGINT) AS n_pivots,
       ROUND(CAST(SUM(CAST(delta AS DECIMAL(28,9))) AS DOUBLE), 6) AS bc,
       CAST(ROW_NUMBER() OVER (
         ORDER BY ROUND(CAST(SUM(CAST(delta AS DECIMAL(28,9))) AS DOUBLE), 6) DESC, v
       ) AS INT) AS rnk
FROM (
    {levels}
)
GROUP BY v
ORDER BY bc DESC, node
LIMIT 30""")
    return "".join(parts)


@query("q522_betweenness_centrality", oracle=_betweenness_oracle_sql())
def q522_betweenness_centrality(spark, sf_dir):
    """PIVOT-SAMPLED BOUNDED-RADIUS BETWEENNESS CENTRALITY over the kNN
    graph — the bridge/bottleneck centrality completing the family
    (q144 PageRank = stationary mass, q424 HITS = mutual endorsement,
    q425 harmonic = reach speed; betweenness = who sits ON the
    shortest paths, the broker signal curation uses to find documents
    that CONNECT topical clusters). Exact Brandes (2001) from a
    deterministic pivot set (every {_BC_STRIDE}th node, the
    Brandes-Pich sampling that makes betweenness tractable at scale)
    with paths bounded to {_BC_HOPS} hops (k-betweenness; the
    q405/q425 bounded-radius discipline):
    forward multi-source BFS carrying exact-BIGINT shortest-path
    counts sigma per level, then the backward dependency recursion
    delta(v) = sum_w sigma_v/sigma_w * (1 + delta(w)) accumulated
    level by level.

    Exactness: sigma is all-integer; each backward term is snapped to
    9 digits and summed in DECIMAL(28,9) (order-independent), so both
    engines replay identical doubles level by level; the oracle
    unrolls forward and backward ladders as MATERIALIZED CTEs on the
    SHARED q132 edge substrate.

    Scale shape: each forward round is one frontier-edge equi-join +
    anti-join + map-side-combinable SUM, O(pivots x E) total; the
    backward rounds are the same joins reversed; per-round
    `lineage_cut` keeps the static plan flat (r11 campaign). Pivot
    count and radius are the two published dials for web-scale
    betweenness; nothing is quadratic in the graph."""
    from variantcalling_spark.operators.similarity import knn_graph

    emb = load_table(spark, sf_dir, "embeddings")
    e = (
        _knn3_fixed6(spark, sf_dir)
        .select("vec_id", "neighbor_id")
        .transform(managed_persist)
    )
    f0 = emb.where(F.col("vec_id") % _BC_STRIDE == 0).select(
        F.col("vec_id").alias("s"),
        F.col("vec_id").alias("v"),
        F.lit(0).cast("bigint").alias("dist"),
        F.lit(1).cast("bigint").alias("sigma"),
    )
    frontier = f0.transform(lineage_cut)
    visited = frontier
    for d in range(1, _BC_HOPS + 1):
        reach = frontier.join(e, frontier.v == e.vec_id).select(
            "s", F.col("neighbor_id").alias("v"), "sigma"
        )
        frontier = (
            reach.join(visited.select("s", "v"), ["s", "v"], "left_anti")
            .groupBy("s", "v")
            .agg(F.sum("sigma").cast("bigint").alias("sigma"))
            .select("s", "v", F.lit(d).cast("bigint").alias("dist"), "sigma")
            .transform(lineage_cut)
        )
        visited = visited.unionByName(frontier).transform(lineage_cut)
    lvl = {d: visited.where(F.col("dist") == d) for d in range(_BC_HOPS + 1)}
    deld = lvl[_BC_HOPS].select(
        "s", "v", "sigma", F.lit(0.0).cast("double").alias("delta")
    )
    acc = deld.select("s", "v", "delta")
    for d in range(_BC_HOPS - 1, -1, -1):
        n2 = lvl[d].select("s", "v", "sigma")
        succ = deld.select(
            F.col("s").alias("ws"),
            F.col("v").alias("wv"),
            F.col("sigma").alias("wsig"),
            F.col("delta").alias("wdelta"),
        )
        agg = (
            n2.join(e, n2.v == e.vec_id)
            .join(
                succ,
                (F.col("s") == F.col("ws")) & (F.col("neighbor_id") == F.col("wv")),
            )
            .groupBy("s", "v")
            .agg(
                F.sum(
                    F.round(
                        F.col("sigma").cast("double")
                        / F.col("wsig")
                        * (1.0 + F.col("wdelta")),
                        9,
                    ).cast("decimal(28,9)")
                )
                .cast("double")
                .alias("x")
            )
        )
        deld = (
            n2.join(agg, ["s", "v"], "left")
            .select("s", "v", "sigma", F.coalesce("x", F.lit(0.0)).alias("delta"))
            .transform(lineage_cut)
        )
        if d >= 1:
            acc = acc.unionByName(deld.select("s", "v", "delta"))
    from pyspark.sql import Window as W2

    bc = acc.groupBy(F.col("v").alias("node")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pivots"),
        F.round(
            F.sum(F.col("delta").cast("decimal(28,9)")).cast("double"), 6
        ).alias("bc"),
    )
    top = bc.orderBy(F.desc("bc"), "node").limit(30)
    return top.select(
        "node",
        "n_pivots",
        "bc",
        F.row_number().over(W2.orderBy(F.desc("bc"), "node")).cast("int").alias("rnk"),
    )


# ---------------------------------------------------------------------------
# q528: KNN-Shapley data valuation
# ---------------------------------------------------------------------------

_SHAPLEY_K = 5
_SHAPLEY_TEST_MOD = 50


@query(
    "q528_knn_shapley_valuation",
    oracle=f"""
WITH q AS (
  SELECT vec_id, label,
         list_transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * {QUANT}) AS BIGINT)) AS qv
  FROM embeddings
),
tst AS (
  SELECT vec_id AS test_id, label AS t_label, qv AS tv
  FROM q WHERE vec_id % {_SHAPLEY_TEST_MOD} = 0
),
trn AS (
  SELECT vec_id AS cand_id, label AS c_label, qv AS cv
  FROM q WHERE vec_id % {_SHAPLEY_TEST_MOD} <> 0
),
nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_train FROM trn),
nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_tests FROM tst),
d AS (
  SELECT test_id, t_label, cand_id, c_label,
         CAST(list_dot_product(cv, cv) - 2 * list_dot_product(cv, tv)
              + list_dot_product(tv, tv) AS BIGINT) AS dist2
  FROM trn, tst
),
r AS (
  SELECT test_id, cand_id, c_label,
         ROW_NUMBER() OVER (PARTITION BY test_id ORDER BY dist2, cand_id) AS rn,
         CASE WHEN c_label = t_label THEN 1.0 ELSE 0.0 END AS ind
  FROM d
),
l AS (
  SELECT *, LEAD(ind) OVER (PARTITION BY test_id ORDER BY rn) AS lead_ind FROM r
),
c AS (
  SELECT test_id, cand_id, c_label, rn,
         CAST(CASE WHEN rn < n_train
              THEN ROUND((ind - lead_ind) * LEAST({_SHAPLEY_K}, rn)
                         / ({_SHAPLEY_K}.0 * rn), 9)
              ELSE ROUND(ind * LEAST(5, n_train)
                         / (5.0 * n_train), 9)
              END AS DECIMAL(28,9)) AS contrib
  FROM l CROSS JOIN nn
),
s AS (
  SELECT test_id, cand_id, c_label,
         SUM(contrib) OVER (PARTITION BY test_id ORDER BY rn
                            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS sv
  FROM c
)
SELECT cand_id AS vec_id, c_label AS label,
       ROUND(CAST(SUM(sv) AS DOUBLE) / n_tests, 6) AS shapley
FROM s CROSS JOIN nt
GROUP BY cand_id, c_label, n_tests
""",
)
def q528_knn_shapley_valuation(spark, sf_dir):
    """KNN-SHAPLEY DATA VALUATION (Jia et al., VLDB 2019 Theorem 1):
    the exact Shapley value of every TRAINING vector for a K-NN
    classifier's accuracy on a held-out test set, in closed form — the
    data-centric-AI primitive for pruning harmful examples and pricing
    data contributions before pretraining (the valuation rung beside
    q333's feature-Shapley: THAT scores columns, THIS scores rows).
    Every 50th vector is a test point; for each, training vectors sort
    by EXACT integer-quantized squared distance (tie-break id) and the
    published recursion s_N = 1[y_N=y]/N, s_i = s_(i+1) +
    (1[y_i=y] - 1[y_(i+1)=y])/K * min(K,i)/i unrolls into a per-rank
    contribution plus a window SUFFIX SUM (round-9 DECIMAL terms, so
    the suffix accumulation is order-exact on both engines); per-test
    values average into one phi per training row.

    Scale shape: the test side is tiny by construction (valuation sets
    are samples) and BROADCASTS — the corpus-sized distance relation is
    computed scan-side with zero corpus shuffle; the only exchange is
    the rank repartition on test_id, and the per-test O(N log N) sort
    is the closed form's inherent cost, parallel across test points.
    At 100 TB the published estimator composes per stratified shard
    (per-shard phi sums are the sharded-Shapley estimate) or swaps the
    exact rank relation for the LSH-approximate variant of the same
    paper — both reuse this operator unchanged on smaller N."""
    from variantcalling_spark.operators.similarity import knn_shapley_values

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", _quantize(F.col("embedding")).alias("qv")
    )
    tests = emb.where(F.col("vec_id") % _SHAPLEY_TEST_MOD == 0).select(
        F.col("vec_id").alias("test_id"),
        F.col("label").alias("t_label"),
        F.col("qv").alias("tv"),
    )
    train = emb.where(F.col("vec_id") % _SHAPLEY_TEST_MOD != 0).select(
        F.col("vec_id").alias("cand_id"),
        F.col("label").alias("c_label"),
        F.col("qv").alias("cv"),
    )
    n_tests = tests.agg(F.count(F.lit(1)).cast("bigint").alias("n_tests"))
    dist2 = F.aggregate(
        F.zip_with("cv", "tv", lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )
    d = train.crossJoin(F.broadcast(tests)).select(
        "test_id",
        "cand_id",
        "c_label",
        dist2.alias("dist2"),
        F.when(F.col("c_label") == F.col("t_label"), F.lit(1.0))
        .otherwise(F.lit(0.0))
        .alias("ind"),
    )
    s = knn_shapley_values(d, k=_SHAPLEY_K, carry=("c_label",))
    return (
        s.groupBy("cand_id", "c_label")
        .agg(F.sum("sv").alias("phi_sum"))
        .crossJoin(F.broadcast(n_tests))
        .select(
            F.col("cand_id").alias("vec_id"),
            F.col("c_label").alias("label"),
            F.round(
                F.col("phi_sum").cast("double") / F.col("n_tests"), 6
            ).alias("shapley"),
        )
    )


# ---------------------------------------------------------------------------
# q531: multi-level Leiden on a planted two-level hierarchy
# ---------------------------------------------------------------------------

_HL_LEVELS = 5


def _planted_cte_sql() -> str:
    """Deterministic two-level planted hierarchy over the embedding id
    space (nodes = dense ranks of vec_id): micro-communities of 10
    (ring chords at offsets 1 and 2), micro-rings inside macros of 50,
    and one macro ring — symmetrized, dangling edges dropped. Ends
    with the SAME CTE names the q519 cycle generators consume
    (``edges``, ``m2t``, ``deg``) plus the singleton start ``sing``."""
    return """
WITH RECURSIVE nodes AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS node
  FROM embeddings
),
nn AS (SELECT CAST(COUNT(*) // 50 AS BIGINT) AS nm FROM nodes),
base AS (
  SELECT node, node // 10 AS micro, node // 50 AS macro, node % 10 AS slot
  FROM nodes
),
cand_e AS (
  SELECT b.node AS src, b.micro * 10 + ((b.slot + d) % 10) AS dst
  FROM base b, (SELECT UNNEST([1, 2]) AS d) dd
  UNION ALL
  SELECT b.node AS src,
         b.macro * 50 + (((b.node - b.macro * 50) // 10 + 1) % 5) * 10 AS dst
  FROM base b WHERE b.slot = 0
  UNION ALL
  SELECT b.node AS src, ((b.macro + 1) % (SELECT nm FROM nn)) * 50 AS dst
  FROM base b WHERE b.node % 50 = 0
),
e0 AS (
  SELECT src, dst FROM cand_e ce JOIN nodes nd ON nd.node = ce.dst
  WHERE src <> dst
),
edges AS MATERIALIZED (
  SELECT DISTINCT src, dst FROM (
    SELECT src, dst FROM e0
    UNION ALL
    SELECT dst AS src, src AS dst FROM e0
  )
),
m2t AS MATERIALIZED (SELECT CAST(COUNT(*) AS BIGINT) AS m2 FROM edges),
deg AS MATERIALIZED (
  SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS k FROM edges GROUP BY src
),
sing AS MATERIALIZED (SELECT node, node AS community, node AS rc FROM nodes)"""


def _hleiden_oracle_sql() -> str:
    cycles = "".join(
        _leiden_cycle_sql(k, "sing" if k == 1 else f"acc{k - 1}", f"best{k - 1}")
        for k in range(1, _HL_LEVELS + 1)
    )
    level_rows = "\n  UNION ALL\n".join(
        f"""  SELECT {k} AS step, 'level{k}' AS phase,
         (SELECT CAST(COUNT(DISTINCT rc) AS BIGINT) FROM lcand{k}) AS n_comms,
         (SELECT qn FROM qc{k}) AS q_num,
         (SELECT CAST(m2 * m2 AS BIGINT) FROM m2t) AS q_den,
         (SELECT qn FROM qc{k}) > (SELECT b FROM best{k - 1}) AS accepted,
         (SELECT b FROM best{k}) AS q_best_num"""
        for k in range(1, _HL_LEVELS + 1)
    )
    return (
        _planted_cte_sql()
        + _q_of_sql("qh0", "sing", "rc")
        + """,
best0 AS (SELECT qn AS b FROM qh0)"""
        + cycles
        + f"""
SELECT * FROM (
  SELECT 0 AS step, 'init' AS phase,
         (SELECT CAST(COUNT(DISTINCT rc) AS BIGINT) FROM sing) AS n_comms,
         (SELECT qn FROM qh0) AS q_num,
         (SELECT CAST(m2 * m2 AS BIGINT) FROM m2t) AS q_den,
         TRUE AS accepted,
         (SELECT qn FROM qh0) AS q_best_num
  UNION ALL
{level_rows}
) ORDER BY step
"""
    )


def _refine_pieces_grouped(edges, part):
    """Leiden REFINEMENT phase as a reusable step: split every
    community of ``part(node, community)`` into its connected pieces
    over the intra-community edges. Returns ``(node, community, rc)``
    localCheckpoint'd — rc is the piece-minimum node id (matching the
    oracle closures' MIN(lab)); ``community`` carries the INPUT
    partition's label, which the next super-sweep uses as its initial
    community (Leiden's contract: refinement decides the aggregation
    units, the current partition decides their starting communities).
    Splitting never changes intra-edge totals and strictly shrinks the
    degree-penalty term, so Q(refined) >= Q(part) is a theorem (q505's
    pin).

    The pieces come from ONE grouped Arrow union-find
    (``community_piece_labels``) instead of iterative star-contraction
    rounds. q531 runs five refinements per invocation; the star form
    accumulated ~900 stages across the loop and overflowed a
    default-memory (1g) driver's status store — the driver-contract
    session the harness actually uses — while the grouped form costs
    ~4 stages per level. The kernel keeps the distributed
    star-contraction fallback for communities above its row cap, so
    the swap never reintroduces the q151-era hope that communities
    stay small."""
    from variantcalling_spark.operators.kernels import community_piece_labels

    intra = (
        edges.join(
            part.select(F.col("node").alias("src"), F.col("community").alias("ca")),
            "src",
        )
        .join(
            part.select(F.col("node").alias("dst"), F.col("community").alias("cb")),
            "dst",
        )
        .where(F.col("ca") == F.col("cb"))
        .select(F.col("ca").alias("community"), F.col("src").alias("a"), F.col("dst").alias("b"))
    )
    markers = part.select(
        "community", F.col("node").alias("a"), F.lit(-1).cast("long").alias("b")
    )
    labels = community_piece_labels(markers.unionByName(intra))
    return (
        labels.select("node", "community", "rc").localCheckpoint()
    )


def _q_num_of(edges, deg, m2: int, part, key: str) -> tuple[int, int]:
    """(exact-integer modularity numerator, community count) of
    ``part`` keyed by ``key`` — module-level twin of the q519 inner
    helper for loops over NON-default substrates, with the community
    count folded into the SAME aggregate (qdeg is one row per
    community, so COUNT(*) there is n_comms): one driver action per
    level instead of two."""
    qin = (
        edges.join(
            part.select(F.col("node").alias("src"), F.col(key).alias("ca")), "src"
        )
        .join(part.select(F.col("node").alias("dst"), F.col(key).alias("cb")), "dst")
        .where(F.col("ca") == F.col("cb"))
        .groupBy(F.col("ca").alias("c"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("in_edges"))
    )
    qdeg = (
        part.join(deg, "node")
        .groupBy(F.col(key).alias("c"))
        .agg(F.sum("k").cast("bigint").alias("dtot"))
    )
    row = (
        qdeg.join(qin, "c", "left")
        .agg(
            F.sum(
                F.lit(m2) * F.coalesce("in_edges", F.lit(0).cast("bigint"))
                - F.col("dtot") * F.col("dtot")
            )
            .cast("bigint")
            .alias("qn"),
            F.count(F.lit(1)).cast("bigint").alias("nc"),
        )
        .collect()[0]
    )
    return int(row.qn), int(row.nc)


def _planted_frames(spark, sf_dir):
    """Spark twin of ``_planted_cte_sql``: (edges, deg, m2t, sing),
    edges/sing lineage-cut and the whole set session-memoized (the
    substrate feeds 2+ consumers per level x 5 levels — the verify
    skill's checkpoint+memo rule)."""
    from variantcalling_spark._memo import memoized

    return memoized(
        "hleiden_substrate", spark, sf_dir, lambda: _build_planted(spark, sf_dir)
    )


def _build_planted(spark, sf_dir):
    from variantcalling_spark.operators.ordered import ranged_row_number

    emb = load_table(spark, sf_dir, "embeddings")
    nodes = ranged_row_number(emb.select("vec_id"), ["vec_id"]).select(
        (F.col("rn") - 1).cast("bigint").alias("node")
    )
    base = nodes.select(
        "node",
        F.expr("node div 10").alias("micro"),
        F.expr("node div 50").alias("macro"),
        (F.col("node") % 10).alias("slot"),
    )
    nn = nodes.agg((F.count(F.lit(1)) / 50).cast("bigint").alias("nm"))
    chords = base.select(
        "node", "micro", "slot", F.explode(F.array(F.lit(1), F.lit(2))).alias("d")
    ).select(
        F.col("node").alias("src"),
        (F.col("micro") * 10 + (F.col("slot") + F.col("d")) % 10).alias("dst"),
    )
    mring = base.where(F.col("slot") == 0).select(
        F.col("node").alias("src"),
        (
            F.col("macro") * 50
            + ((F.expr("(node - macro * 50) div 10") + 1) % 5) * 10
        ).alias("dst"),
    )
    xring = (
        base.where(F.col("node") % 50 == 0)
        .crossJoin(F.broadcast(nn))
        .select(
            F.col("node").alias("src"),
            (((F.col("macro") + 1) % F.col("nm")) * 50).alias("dst"),
        )
    )
    e0 = (
        chords.unionByName(mring)
        .unionByName(xring)
        .where(F.col("src") != F.col("dst"))
        .join(nodes.withColumnRenamed("node", "dst"), "dst")
        .select("src", "dst")
    )
    edges = (
        e0.unionByName(
            e0.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .distinct()
        .transform(lineage_cut)
    )
    deg = (
        edges.groupBy(F.col("src").alias("node"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("k"))
        .transform(managed_persist)
    )
    m2t = edges.agg(F.count(F.lit(1)).cast("bigint").alias("m2"))
    sing = nodes.select(
        "node", F.col("node").alias("community"), F.col("node").alias("rc")
    ).transform(lineage_cut)
    return edges, deg, m2t, sing


@query("q531_leiden_planted_hierarchy", oracle=_hleiden_oracle_sql())
def q531_leiden_planted_hierarchy(spark, sf_dir):
    """MULTI-LEVEL LEIDEN WITH REAL DEPTH: the q519 loop (guarded
    sweep+refine cycles, strict exact-integer modularity acceptance)
    driven past the kNN substrate's level-2 stall on a PLANTED
    two-level hierarchy — micro-communities of 10 (dense ring chords)
    nested in macro-communities of 50 (sparse micro-ring), macros
    joined by single bridges. Starting from SINGLETONS (the textbook
    Leiden start q519's LPA-seeded face skips), the loop accepts FOUR
    consecutive levels of agglomeration (Q rising 614k -> 824k -> 1.02M
    -> 1.23M of m2^2 = 4.49M) before level 5 presents a non-improving
    candidate and the guard records the stall — the ledger therefore
    exercises every branch of the acceptance logic on one input. The
    oracle unrolls all five guarded cycles from the same generators
    q519 uses (byte-identical sweep/refinement/acceptance SQL), over a
    substrate CTE chain that reproduces the planted graph
    edge-for-edge (2 120 directed edges at sf0.01, equality asserted
    in tests).

    Scale shape: identical to q519 per level (equi-join super-sweep on
    a SHRINKING graph + O(log n) star-contraction refinement); the
    substrate build is expression-only over ``ranged_row_number``
    (skew-proof global numbering, no single-partition sort), and
    edges/deg/sing are lineage-cut + session-memoized once for all
    five levels (the checkpoint+memo rule). Driver state: one exact-Q
    scalar per level."""
    from variantcalling_spark._memo import memoized

    return memoized("q531", spark, sf_dir, lambda: _build_q531(spark, sf_dir))


def _build_q531(spark, sf_dir):
    edges, deg, m2t, sing = _planted_frames(spark, sf_dir)
    m2 = m2t.collect()[0].m2
    cur = sing
    best, n0 = _q_num_of(edges, deg, m2, cur, "rc")
    rows = [(0, "init", n0, best, True, best)]
    for lvl in range(1, _HL_LEVELS + 1):
        _, _, _, _, swept = _super_sweep_frames(edges, deg, m2t, cur)
        cand = _refine_pieces_grouped(edges, swept)
        qc, nc = _q_num_of(edges, deg, m2, cand, "rc")
        accepted = qc > best
        if accepted:
            cur, best = cand, qc
        rows.append((lvl, f"level{lvl}", nc, qc, accepted, best))
    qden = int(m2) * int(m2)
    return spark.createDataFrame(
        [(s, p, n, q, qden, a, b) for (s, p, n, q, a, b) in rows],
        "step int, phase string, n_comms bigint, q_num bigint, "
        "q_den bigint, accepted boolean, q_best_num bigint",
    )


# ---------------------------------------------------------------------------
# q532: shard-stratified KNN-Shapley (the 100-TB deployment shape)
# ---------------------------------------------------------------------------

_SHAPLEY_SHARDS = 4


@query(
    "q532_sharded_knn_shapley",
    oracle=f"""
WITH q AS (
  SELECT vec_id, label,
         list_transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * {QUANT}) AS BIGINT)) AS qv
  FROM embeddings
),
tst AS (
  SELECT vec_id AS test_id, label AS t_label, qv AS tv
  FROM q WHERE vec_id % {_SHAPLEY_TEST_MOD} = 0
),
trn AS (
  SELECT vec_id AS cand_id, label AS c_label, qv AS cv,
         vec_id % {_SHAPLEY_SHARDS} AS shard
  FROM q WHERE vec_id % {_SHAPLEY_TEST_MOD} <> 0
),
nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_tests FROM tst),
d AS (
  SELECT test_id, t_label, cand_id, c_label, shard,
         CAST(list_dot_product(cv, cv) - 2 * list_dot_product(cv, tv)
              + list_dot_product(tv, tv) AS BIGINT) AS dist2
  FROM trn, tst
),
r AS (
  SELECT test_id, cand_id, c_label, shard,
         ROW_NUMBER() OVER (PARTITION BY test_id, shard
                            ORDER BY dist2, cand_id) AS rn,
         CAST(COUNT(*) OVER (PARTITION BY test_id, shard) AS BIGINT) AS ns,
         CASE WHEN c_label = t_label THEN 1.0 ELSE 0.0 END AS ind
  FROM d
),
l AS (
  SELECT *, LEAD(ind) OVER (PARTITION BY test_id, shard ORDER BY rn)
              AS lead_ind
  FROM r
),
c AS (
  SELECT test_id, cand_id, c_label, shard, rn,
         CAST(CASE WHEN rn < ns
              THEN ROUND((ind - lead_ind) * LEAST({_SHAPLEY_K}, rn)
                         / ({_SHAPLEY_K}.0 * rn), 9)
              ELSE ROUND(ind * LEAST({_SHAPLEY_K}, ns)
                         / ({_SHAPLEY_K}.0 * ns), 9)
              END AS DECIMAL(28,9)) AS contrib
  FROM l
),
s AS (
  SELECT test_id, cand_id, c_label, shard,
         SUM(contrib) OVER (PARTITION BY test_id, shard ORDER BY rn
                            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS sv
  FROM c
)
SELECT cand_id AS vec_id, c_label AS label, CAST(shard AS INT) AS shard,
       ROUND(CAST(SUM(sv) AS DOUBLE) / n_tests, 6) AS shapley
FROM s CROSS JOIN nt
GROUP BY cand_id, c_label, shard, n_tests
""",
)
def q532_sharded_knn_shapley(spark, sf_dir):
    """SHARD-STRATIFIED KNN-SHAPLEY — q528's closed form in its 100-TB
    DEPLOYMENT SHAPE: the training corpus partitions into
    {shards} hash shards (cand_id % {shards}), each test point values
    each shard's candidates INDEPENDENTLY (rank, recursion, and suffix
    sum all partition by (test, shard) — ``knn_shapley_values`` with a
    composite test key, per-partition N from its window count), and a
    candidate's value is its within-shard value averaged over tests.
    This is the estimator that removes q528's only data-sized
    partition: the per-task sort shrinks from N to N/shards at the
    price of valuing each point against its shard's K-NN surface
    rather than the global one — the accepted accuracy/parallelism
    dial of the published sharded deployment, with q528 as the exact
    pilot-scale baseline (their rank correlation is the quality
    audit, asserted in tests).

    The N < K base-case generalization matters here even when the
    corpus is large: a fine sharding can leave a shard with fewer than
    K candidates, and ind*min(K,Ns)/(K*Ns) keeps every shard's values
    efficiency-consistent (hypothesis-pinned on the operator).

    Scale shape: identical plan family to q528 — broadcast test side,
    scan-side exact integer distances, ONE exchange keyed by
    (test, shard) — but the sort parallelism is tests x shards and
    the per-task cost is (N/shards) log(N/shards); shards scale with
    the corpus, so the per-task sort is BOUNDED at any corpus size."""
    from variantcalling_spark.operators.similarity import knn_shapley_values

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", _quantize(F.col("embedding")).alias("qv")
    )
    tests = emb.where(F.col("vec_id") % _SHAPLEY_TEST_MOD == 0).select(
        F.col("vec_id").alias("test_id"),
        F.col("label").alias("t_label"),
        F.col("qv").alias("tv"),
    )
    train = emb.where(F.col("vec_id") % _SHAPLEY_TEST_MOD != 0).select(
        F.col("vec_id").alias("cand_id"),
        F.col("label").alias("c_label"),
        F.col("qv").alias("cv"),
        (F.col("vec_id") % _SHAPLEY_SHARDS).alias("shard"),
    )
    n_tests = tests.agg(F.count(F.lit(1)).cast("bigint").alias("n_tests"))
    dist2 = F.aggregate(
        F.zip_with("cv", "tv", lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )
    d = train.crossJoin(F.broadcast(tests)).select(
        (
            F.col("test_id") * _SHAPLEY_SHARDS + F.col("shard")
        ).alias("tkey"),
        "cand_id",
        "c_label",
        "shard",
        dist2.alias("dist2"),
        F.when(F.col("c_label") == F.col("t_label"), F.lit(1.0))
        .otherwise(F.lit(0.0))
        .alias("ind"),
    )
    s = knn_shapley_values(
        d, k=_SHAPLEY_K, test_col="tkey", carry=("c_label", "shard")
    )
    return (
        s.groupBy("cand_id", "c_label", "shard")
        .agg(F.sum("sv").alias("phi_sum"))
        .crossJoin(F.broadcast(n_tests))
        .select(
            F.col("cand_id").alias("vec_id"),
            F.col("c_label").alias("label"),
            F.col("shard").cast("int").alias("shard"),
            F.round(
                F.col("phi_sum").cast("double") / F.col("n_tests"), 6
            ).alias("shapley"),
        )
    )


q532_sharded_knn_shapley.__doc__ = q532_sharded_knn_shapley.__doc__.format(
    shards=_SHAPLEY_SHARDS
)
