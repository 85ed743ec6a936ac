"""Deduplication queries over an augmented documents corpus.

The driver corpus has no duplicates, so both engines construct the same
augmented corpus: exact copies of every 20th doc (+200000 ids) and
near-copies with the first word dropped for every 10th doc (+100000 ids).
Each dedup flavor then has ground truth to find.
"""

from __future__ import annotations

from pyspark.sql import functions as F

# NB: the xxhash64-based minhash_signatures / lsh_candidate_pairs remain
# in operators.dedup as the fast non-oracled variants (used by the CLI
# dedup tool); the queries use the engine-portable family so discovery
# is value-checked against DuckDB.
from variantcalling_spark.operators.dedup import (
    duplicated_substring_spans,
    exact_dedup_clusters,
    jaccard_for_pairs,
    portable_band_buckets,
    portable_band_candidates,
    portable_minhash_signatures,
    prefix_filtered_pairs,
    shingles,
    simhash,
)
from variantcalling_spark.queries import query
from variantcalling_spark.queries._helpers import cnt, managed_persist
from variantcalling_spark.sources import load_table
from variantcalling_spark._persist import lineage_cut

SQL_CORPUS = """
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 200000 AS doc_id, text FROM documents WHERE doc_id % 20 = 0
  UNION ALL
  SELECT doc_id + 100000 AS doc_id, substr(text, strpos(text, ' ') + 1) AS text
  FROM documents WHERE doc_id % 10 = 0
"""


def corpus(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    exact = docs.where(F.col("doc_id") % 20 == 0).select(
        (F.col("doc_id") + 200000).alias("doc_id"), "text"
    )
    near = docs.where(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.expr("substr(text, instr(text, ' ') + 1)").alias("text"),
    )
    return docs.unionByName(exact).unionByName(near)


@query(
    "q64_exact_dedup",
    oracle=f"""
WITH corpus AS ({SQL_CORPUS})
SELECT md5(text) AS fingerprint,
       COUNT(*) AS cluster_size,
       MIN(doc_id) AS canonical_id
FROM corpus
GROUP BY md5(text)
HAVING COUNT(*) >= 2
""",
)
def q64_exact_dedup(spark, sf_dir):
    """Exact dedup via hash-groupBy on a 128-bit fingerprint: duplicate
    clusters with a deterministic canonical representative (min id). One
    shuffle of (hash, id) pairs regardless of document size."""
    c = corpus(spark, sf_dir)
    return exact_dedup_clusters(c).where(F.col("cluster_size") >= 2)


@query(
    "q65_ngram_jaccard",
    oracle=f"""
WITH corpus AS ({SQL_CORPUS}),
sh AS (
  SELECT DISTINCT doc_id, shingle
  FROM (
    SELECT doc_id,
           unnest([string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1] || ' ' || string_split(text, ' ')[i+2]
                   for i in generate_series(1, len(string_split(text, ' ')) - 2)]) AS shingle
    FROM corpus
  )
),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
shared AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b,
       sa.n_sh AS n_a, sb.n_sh AS n_b, n_shared,
       n_shared / CAST(sa.n_sh + sb.n_sh - n_shared AS DOUBLE) AS jaccard
FROM shared
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE n_shared / CAST(sa.n_sh + sb.n_sh - n_shared AS DOUBLE) >= 0.6
""",
)
def q65_ngram_jaccard(spark, sf_dir):
    """Exact word-3-gram Jaccard near-duplicate pairs (threshold 0.6).

    Discovery uses lossless prefix + length filtering (PPJoin family):
    the shingle self-join runs only over each doc's rarest
    ``n - ceil(0.6*n) + 1`` shingles, then candidates are verified with
    integer-exact intersection/union arithmetic — identical output to
    the naive all-pairs shingle join (the oracle), at near-linear cost.

    The shingle table feeds three consumers (doc-frequency ranking, the
    prefix self-join, and the verify step) with different partitionings,
    so exchange reuse can't cover them — persist it once instead of
    re-shingling the corpus per consumer. Same story at cluster scale:
    the shingle table is the natural checkpoint of every dedup run (it
    is also what q66's MinHash path consumes).
    """
    sh = shingles(corpus(spark, sf_dir), n=3).transform(managed_persist)
    cands = prefix_filtered_pairs(sh, threshold=0.6)
    return jaccard_for_pairs(cands, sh).where(F.col("jaccard") >= 0.6).select(
        "doc_a", "doc_b", "n_a", "n_b", "n_shared", "jaccard"
    )


def _minhash_oracle_sql(num_hashes: int = 32, num_bands: int = 8, rows_per_band: int = 4) -> str:
    """The full MinHash-LSH pipeline in DuckDB SQL with the same
    portable hash family as the Spark side — every stage (shingle hash,
    affine permutations, band-bucket fold, candidate join, exact verify)
    produces identical bits, so the scale path gets a strong oracle."""
    from variantcalling_spark.operators.dedup import (
        MERSENNE31,
        PORTABLE_HASH_SQL,
        _minhash_coeffs,
    )

    p = MERSENNE31
    phash = PORTABLE_HASH_SQL.format(col="shingle")
    coeffs = _minhash_coeffs(num_hashes)
    sig_cols = ",\n         ".join(
        f"MIN((CAST({a} AS BIGINT) * v + {b}) % {p}) AS h{i}"
        for i, (a, b) in enumerate(coeffs)
    )

    def bucket_expr(b):
        acc = f"h{b * rows_per_band}"
        for r in range(1, rows_per_band):
            acc = f"(({acc}) * 8191 + h{b * rows_per_band + r}) % {p}"
        return acc

    band_selects = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, {b} AS band, {bucket_expr(b)} AS bucket FROM sig"
        for b in range(num_bands)
    )
    return f"""
WITH corpus AS ({SQL_CORPUS}),
sh AS (
  SELECT DISTINCT doc_id, shingle
  FROM (
    SELECT doc_id,
           unnest([string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1] || ' ' || string_split(text, ' ')[i+2]
                   for i in generate_series(1, len(string_split(text, ' ')) - 2)]) AS shingle
    FROM corpus
  )
),
hv AS (
  SELECT doc_id, {phash} AS v
  FROM sh
),
sig AS (
  SELECT doc_id,
         {sig_cols}
  FROM hv GROUP BY doc_id
),
bands AS (
{band_selects}
),
cands AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
shared AS (
  SELECT c.doc_a, c.doc_b, COUNT(*) AS n_shared
  FROM cands c
  JOIN sh a ON a.doc_id = c.doc_a
  JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
  GROUP BY c.doc_a, c.doc_b
)
SELECT s.doc_a, s.doc_b, s.n_shared,
       s.n_shared / CAST(sa.n_sh + sb.n_sh - s.n_shared AS DOUBLE) AS jaccard
FROM shared s
JOIN sizes sa ON sa.doc_id = s.doc_a
JOIN sizes sb ON sb.doc_id = s.doc_b
WHERE s.n_shared / CAST(sa.n_sh + sb.n_sh - s.n_shared AS DOUBLE) >= 0.6
"""


@query("q66_minhash_lsh", oracle=_minhash_oracle_sql())
def q66_minhash_lsh(spark, sf_dir):
    """MinHash-LSH near-duplicate discovery (the 100 TB dedup path):
    32 min-hashes per doc -> 8 bands x 4 rows -> banded bucket self-join
    -> exact Jaccard verification of candidates only. Discovery is linear
    in corpus size; no all-pairs pass.

    Uses the engine-portable hash family (char-fold shingle value +
    affine permutations mod 2^31-1), so the WHOLE pipeline — discovery
    included — is value-checked against a DuckDB oracle, not just
    rows-only; recall vs exact Jaccard is additionally pinned in
    tests/test_dedup_similarity.py."""
    c = corpus(spark, sf_dir)
    # persisted for the same reason as q65 — and because the logical plan
    # is identical, a run that already executed q65 reuses its cache.
    sh = shingles(c, n=3).transform(managed_persist)
    # the cached sh stops AQE reusing the 32-MIN aggregate's exchange
    # between the band self-join's two sides, so the signatures are
    # persisted here: one aggregate pass (benchdata/sf1 on 4 vCPUs, best
    # of three: 9.5 s without this persist, 7.1 s with it)
    sigs = portable_minhash_signatures(sh, num_hashes=32).transform(managed_persist)
    # first-colliding-band dedup (the q74 recipe): no distinct() re-shuffle
    cands = portable_band_candidates(sigs, num_bands=8, rows_per_band=4)
    verified = jaccard_for_pairs(cands, sh).where(F.col("jaccard") >= 0.6)
    return verified.select(
        "doc_a", "doc_b", F.col("n_shared").cast("bigint").alias("n_shared"), "jaccard"
    )


_PMH_THRESHOLD = 0.6   # Jaccard near-dup threshold (the q65/q66 dial)
_PMH_TARGET = 0.8      # recall floor requested from the planner
_PMH_R = 4             # minhash rows per band (oracle pin)


def _planned_minhash_oracle_sql() -> str:
    from variantcalling_spark.operators.dedup import (
        planned_minhash_bands_for_recall,
    )

    bands = planned_minhash_bands_for_recall(_PMH_THRESHOLD, _PMH_TARGET, _PMH_R)
    pairs_sql = _minhash_oracle_sql(
        num_hashes=bands * _PMH_R, num_bands=bands, rows_per_band=_PMH_R
    )
    return f"""
WITH RECURSIVE mpairs AS MATERIALIZED (
  SELECT doc_a, doc_b FROM ({pairs_sql}) discovered
),
medges AS MATERIALIZED (
  SELECT doc_a AS src, doc_b AS dst FROM mpairs
  UNION
  SELECT doc_b AS src, doc_a AS dst FROM mpairs
),
mclosure AS (
  SELECT src AS node, src AS reach FROM medges
  UNION
  SELECT c.node, medges.dst AS reach
  FROM mclosure c JOIN medges ON medges.src = c.reach
),
mclusters AS MATERIALIZED (
  SELECT MIN(reach) AS cluster_id, CAST(COUNT(DISTINCT node) AS BIGINT) AS n_members
  FROM (SELECT node, MIN(reach) AS reach FROM mclosure GROUP BY node) labeled
  GROUP BY reach
)
SELECT CAST({bands} AS INT) AS n_bands,
       CAST({bands * _PMH_R} AS INT) AS n_hashes,
       CAST(n_members AS BIGINT) AS cluster_size,
       CAST(COUNT(*) AS BIGINT) AS n_clusters
FROM mclusters GROUP BY n_members
ORDER BY cluster_size
"""


@query("q520_planned_minhash_neardup", oracle=_planned_minhash_oracle_sql())
def q520_planned_minhash_neardup(spark, sf_dir):
    """PLANNER-DRIVEN MinHash NEAR-DUP CLUSTERS END-TO-END — the exact
    MinHash mirror of q514's cosine face, completing the r10 verdict's
    ask #5: the caller states a RECALL FLOOR (0.8 at Jaccard 0.6) and
    ``planned_minhash_bands_for_recall`` converts it into the band
    count (12 bands of 4 rows = 48 hashes — asserted, and emitted in
    the ledger so the chosen dial is oracle-checked output); the
    signature is sized to exactly b*r (no over-hashing), discovery
    runs the first-colliding-band pipeline, survivors verify with
    exact Jaccard, pairs fold into clusters via star contraction, and
    the output is the cluster-size histogram a curation pipeline
    consumes. q495 validated the S-curve, q497 graded the grid, the
    r11 SCALE.md table measured recall-vs-bands empirically — this
    query SHIPS the loop.

    Exactness: the oracle recomputes the identical 48-hash / 12-band
    portable pipeline in SQL (q66's machinery at the planner's dial)
    plus the exact recursive-closure clusters; star contraction's
    labels equal the closure's min-ids.

    Scale shape: one 48-MIN signature aggregate, banded bucket
    self-join (candidate volume linear in corpus at fixed bucket
    occupancy), verify only on candidates, contraction in O(log n)
    rounds — nothing quadratic; the planner itself is free."""
    from variantcalling_spark.operators.dedup import (
        connected_components,
        jaccard_for_pairs,
        planned_minhash_candidates,
        shingles,
    )

    bands_expected = 12
    sh = shingles(corpus(spark, sf_dir), n=3).transform(managed_persist)
    cands, bands = planned_minhash_candidates(
        sh, _PMH_THRESHOLD, target_recall=_PMH_TARGET, rows_per_band=_PMH_R
    )
    assert bands == bands_expected, "oracle is rendered for the 12-band plan"
    pairs = (
        jaccard_for_pairs(cands, sh)
        .where(F.col("jaccard") >= _PMH_THRESHOLD)
        .select("doc_a", "doc_b")
    )
    labels = connected_components(pairs)
    sizes = labels.groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("cluster_size")
    )
    return (
        sizes.groupBy("cluster_size")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_clusters"))
        .select(
            F.lit(bands).cast("int").alias("n_bands"),
            F.lit(bands * _PMH_R).cast("int").alias("n_hashes"),
            "cluster_size",
            "n_clusters",
        )
        .orderBy("cluster_size")
    )


def _simhash_oracle_sql(bits: int = 32) -> str:
    """The SimHash pipeline in DuckDB SQL with the same portable word
    hash (md5-derived v for bits 0..30, affine rehash v2 for bits 31+)."""
    from variantcalling_spark.operators.dedup import MERSENNE31, PORTABLE_HASH_SQL

    p = MERSENNE31
    phash = PORTABLE_HASH_SQL.format(col="w")

    def word_bit(j):
        src, off = ("v", j) if j < 31 else ("v2", j - 31)
        return f"({src} // {2**off}) % 2"

    per_bit = ",\n         ".join(
        f"SUM(CASE WHEN {word_bit(j)} = 1 THEN cnt ELSE -cnt END) AS b{j}"
        for j in range(bits)
    )
    sig = " + ".join(
        f"(CASE WHEN b{j} > 0 THEN CAST({2**j} AS BIGINT) ELSE 0 END)"
        for j in range(bits)
    )
    band_selects = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, simhash, {b} AS band, (simhash // {2**(b*8)}) % 256 AS slice FROM sig"
        for b in range(4)
    )
    return f"""
WITH corpus AS ({SQL_CORPUS}),
words AS (
  SELECT doc_id, w, COUNT(*) AS cnt
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM corpus)
  GROUP BY doc_id, w
),
hv AS (
  SELECT doc_id, cnt, v, (CAST(1103515245 AS BIGINT) * v + 12345) % {p} AS v2
  FROM (
    SELECT doc_id, cnt, {phash} AS v
    FROM words
  )
),
perbit AS (
  SELECT doc_id,
         {per_bit}
  FROM hv GROUP BY doc_id
),
sig AS (SELECT doc_id, {sig} AS simhash FROM perbit),
bands AS (
{band_selects}
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
FROM bands a JOIN bands b
  ON a.band = b.band AND a.slice = b.slice AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 4
"""


@query("q67_simhash", oracle=_simhash_oracle_sql())
def q67_simhash(spark, sf_dir):
    """SimHash near-duplicate discovery: 32-bit weighted word-hash
    signature, banded on 4x8-bit sub-signatures, Hamming distance <= 4.
    Portable word hash -> full value oracle (signature invariants also
    pinned in tests/test_dedup_similarity.py)."""
    c = corpus(spark, sf_dir)
    sig = simhash(c, bits=32)
    # band on 8-bit slices: near-dups (hamming<=4) collide on >=1 of 4+ slices
    bands = sig.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright("simhash", b * 8).bitwiseAND(F.lit(255)).alias("slice"),
                    )
                    for b in range(4)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "simhash", "bb.band", "bb.slice")
    a, b = bands.alias("a"), bands.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.slice") == F.col("b.slice"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming"),
        )
        .distinct()
    )
    return pairs.where(F.col("hamming") <= 4)


@query(
    "q98_dedup_clusters",
    oracle=f"""
WITH RECURSIVE corpus AS ({SQL_CORPUS}),
sh AS (
  SELECT DISTINCT doc_id, shingle
  FROM (
    SELECT doc_id,
           unnest([string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1] || ' ' || string_split(text, ' ')[i+2]
                   for i in generate_series(1, len(string_split(text, ' ')) - 2)]) AS shingle
    FROM corpus
  )
),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
shared AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
e AS (
  SELECT doc_a, doc_b FROM shared
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
  WHERE n_shared / CAST(sa.n_sh + sb.n_sh - n_shared AS DOUBLE) >= 0.6
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM e
  UNION
  SELECT doc_b AS src, doc_a AS dst FROM e
),
closure AS (
  SELECT src AS node, src AS reach FROM edges
  UNION
  SELECT c.node, edges.dst AS reach
  FROM closure c JOIN edges ON edges.src = c.reach
)
SELECT MIN(reach) AS cluster_id, COUNT(DISTINCT node) AS n_members
FROM (SELECT node, MIN(reach) AS reach FROM closure GROUP BY node) labeled
GROUP BY reach
""",
)
def q98_dedup_clusters(spark, sf_dir):
    """The dedup endgame: near-duplicate PAIRS (exact Jaccard >= 0.6,
    PPJoin discovery) folded into duplicate CLUSTERS by min-label
    connected components, yielding one canonical id per group. Star
    contraction converges in O(log n) rounds whatever the clusters'
    depth; the oracle computes the same components with a recursive CTE.
    Output: (cluster_id = smallest member, n_members)."""
    from variantcalling_spark.operators.dedup import connected_components

    sh = shingles(corpus(spark, sf_dir), n=3).transform(managed_persist)
    cands = prefix_filtered_pairs(sh, threshold=0.6)
    pairs = jaccard_for_pairs(cands, sh).where(F.col("jaccard") >= 0.6)
    labels = connected_components(pairs)
    return labels.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_members")
    ).select(F.col("label").alias("cluster_id"), "n_members")


@query(
    "q99_data_curation_funnel",
    oracle=f"""
WITH corpus AS ({SQL_CORPUS}),
sh AS (
  SELECT DISTINCT doc_id, shingle
  FROM (
    SELECT doc_id,
           unnest([string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1] || ' ' || string_split(text, ' ')[i+2]
                   for i in generate_series(1, len(string_split(text, ' ')) - 2)]) AS shingle
    FROM corpus
  )
),
s1 AS (
  SELECT c.doc_id, c.text FROM corpus c
  JOIN (SELECT md5(text) AS fp, MIN(doc_id) AS keep_id FROM corpus GROUP BY md5(text)) k
    ON md5(c.text) = k.fp AND c.doc_id = k.keep_id
),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
shared AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
near_drop AS (
  SELECT DISTINCT doc_b FROM shared
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
  WHERE n_shared / CAST(sa.n_sh + sb.n_sh - n_shared AS DOUBLE) >= 0.6
),
s2 AS (SELECT * FROM s1 WHERE doc_id NOT IN (SELECT doc_b FROM near_drop)),
bench_sh AS (
  SELECT DISTINCT shingle FROM sh WHERE sh.doc_id % 97 = 0 AND sh.doc_id < 100000
),
contaminated AS (
  SELECT DISTINCT doc_id FROM sh WHERE shingle IN (SELECT shingle FROM bench_sh)
),
s3 AS (SELECT * FROM s2 WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)),
s4 AS (
  SELECT * FROM s3
  WHERE length(text) >= 100
    AND (len(string_split(text, ' ')) - 2 <= 0
         OR 1.0 - len(list_distinct([string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1] || ' ' || string_split(text, ' ')[i+2]
                                     for i in generate_series(1, len(string_split(text, ' ')) - 2)]))
               / CAST(len(string_split(text, ' ')) - 2 AS DOUBLE) <= 0.2)
)
SELECT stage, n_docs FROM (
  SELECT 'a_input' AS stage, COUNT(*) AS n_docs FROM corpus
  UNION ALL SELECT 'b_exact_dedup', COUNT(*) FROM s1
  UNION ALL SELECT 'c_near_dedup', COUNT(*) FROM s2
  UNION ALL SELECT 'd_decontaminated', COUNT(*) FROM s3
  UNION ALL SELECT 'e_quality', COUNT(*) FROM s4
)
""",
)
def q99_data_curation_funnel(spark, sf_dir):
    """The LLM data-curation funnel as ONE composed query: exact dedup
    (keep min id per md5) -> near-dedup (drop the larger id of every
    Jaccard >= 0.6 pair, PPJoin discovery) -> benchmark decontamination
    (drop docs sharing any 3-gram with the benchmark set) -> quality
    gate (length >= 100, repetition <= 0.2), reporting the survivor
    count after each stage. Every stage is the already-oracled operator
    (q64/q65/q75/q78) glued as per-doc survival FLAGS: each doc gets
    (kept_exact, kept_near, clean, quality) booleans via three left
    joins against the (small) drop sets, then ONE aggregate computes
    every stage count in a single corpus pass — a 5-branch union of
    per-stage counts would re-evaluate the expensive near-dedup
    discovery once per branch (measured 4× slower).

    The three discovery branches (exact-dup keep set, near-dup drop set,
    contamination set) are independent DAGs; they are persisted — at
    curation scale these ARE the pipeline's durable checkpoints (every
    downstream consumer wants the drop lists, not a re-derivation) — and
    materialized as CONCURRENT Spark jobs. Left inside one fused action,
    the scheduler runs their ~10 broadcast-build jobs serially and the
    funnel measured 5.5 s; overlapped, the same work is 2.1 s, and at
    cluster scale concurrent submission is what keeps disjoint executor
    pools busy instead of idling behind one branch's barrier."""
    # corpus persisted: the funnel scans it for shingling, exact dedup,
    # and the final flag join — three subtree re-computes otherwise
    c = corpus(spark, sf_dir).transform(managed_persist)
    sh = shingles(c, n=3).transform(managed_persist)

    keep = (
        exact_dedup_clusters(c)
        .select(F.col("canonical_id").alias("doc_id"), F.lit(True).alias("kept_exact"))
        .transform(managed_persist)
    )

    cands = prefix_filtered_pairs(sh, threshold=0.6)
    near_drop = (
        jaccard_for_pairs(cands, sh)
        .where(F.col("jaccard") >= 0.6)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
        .withColumn("near_dropped", F.lit(True))
        .transform(managed_persist)
    )

    bench_sh = (
        sh.where((F.col("doc_id") % 97 == 0) & (F.col("doc_id") < 100000))
        .select("shingle")
        .distinct()
    )
    contaminated = (
        sh.join(F.broadcast(bench_sh), "shingle")
        .select("doc_id")
        .distinct()
        .withColumn("contaminated", F.lit(True))
        .transform(managed_persist)
    )

    # materialize the shared shingle cache once, then overlap the three
    # independent discovery branches (concurrent actions on one session —
    # the standard Spark pattern for fan-out pipelines)
    sh.count()
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=3) as pool:
        list(pool.map(lambda d: d.count(), (keep, near_drop, contaminated)))

    # Quality gate: repetition = 1 - distinct_3grams / total_3grams. The
    # distinct-gram count per doc IS the cached shingle table's group
    # size — reuse it instead of re-deriving grams with a
    # transform + array_distinct expression over the text. (Besides the
    # obvious reuse win, that expression inside the flag plan was a
    # measured compile bomb: Janino recompiled its codegen on every
    # fresh plan — ~3.4 s/run at sf0.1 — where this join form runs in
    # ~0.2 s.) Docs too short for any 3-gram (k <= 0) pass by definition.
    k = F.size(F.split("text", " ")) - 2
    n_distinct = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_distinct"))
    quality = (
        c.select("doc_id", (F.length("text") >= 100).alias("len_ok"), k.alias("k"))
        .join(n_distinct, "doc_id", "left")
        .select(
            "doc_id",
            (
                F.col("len_ok")
                & (
                    (F.col("k") <= 0)
                    | (
                        F.lit(1.0)
                        - F.coalesce("n_distinct", F.lit(0))
                        / F.col("k").cast("double")
                        <= 0.2
                    )
                )
            ).alias("f4"),
        )
    )

    flagged = (
        quality.join(keep, "doc_id", "left")
        .join(near_drop, "doc_id", "left")
        .join(contaminated, "doc_id", "left")
        .select(
            F.coalesce("kept_exact", F.lit(False)).alias("f1"),
            (~F.coalesce("near_dropped", F.lit(False))).alias("f2"),
            (~F.coalesce("contaminated", F.lit(False))).alias("f3"),
            "f4",
        )
    )
    agg = flagged.agg(
        F.count(F.lit(1)).alias("a"),
        F.count(F.when(F.col("f1"), 1)).alias("b"),
        F.count(F.when(F.col("f1") & F.col("f2"), 1)).alias("c"),
        F.count(F.when(F.col("f1") & F.col("f2") & F.col("f3"), 1)).alias("d"),
        F.count(
            F.when(F.col("f1") & F.col("f2") & F.col("f3") & F.col("f4"), 1)
        ).alias("e"),
    )
    stages = F.array(
        *[
            F.struct(F.lit(name).alias("stage"), F.col(col).alias("n_docs"))
            for name, col in [
                ("a_input", "a"),
                ("b_exact_dedup", "b"),
                ("c_near_dedup", "c"),
                ("d_decontaminated", "d"),
                ("e_quality", "e"),
            ]
        ]
    )
    return agg.select(F.explode(stages).alias("s")).select("s.stage", "s.n_docs")


@query(
    "q114_substring_dedup_spans",
    oracle="""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
sh AS (
  SELECT doc_id, CAST(i AS INT) AS pos,
         array_to_string(w[i+1:i+5], ' ') AS shingle
  FROM toks, UNNEST(range(CAST(len(w) AS BIGINT) - 4)) AS r(i)
  WHERE len(w) >= 5
),
dup AS (SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(DISTINCT doc_id) >= 2),
cov AS (
  SELECT DISTINCT s.doc_id, s.pos + CAST(j AS INT) AS tpos
  FROM sh s JOIN dup d USING (shingle), UNNEST(range(5)) AS u(j)
),
isl AS (
  SELECT doc_id, tpos,
         tpos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tpos) AS grp
  FROM cov
)
SELECT doc_id, CAST(MIN(tpos) AS INT) AS span_start,
       CAST(MAX(tpos) AS INT) AS span_end,
       CAST(COUNT(*) AS INT) AS span_tokens
FROM isl GROUP BY doc_id, grp
""",
)
def q114_substring_dedup_spans(spark, sf_dir):
    """Substring-level exact dedup (the Lee et al. 2022 repeated-passage
    shape, re-expressed relationally instead of via a suffix array): find
    every maximal token span covered by a 5-token shingle occurring in
    >= 2 distinct documents. Whole-doc dedup keeps one copy of a page but
    cannot flag the license boilerplate shared by millions — this
    operator emits exactly those spans for cutting. Discovery is a
    shingle document-frequency aggregate + equi-join (linear, vocabulary-
    bounded); span assembly is per-doc gaps-and-islands. Both engines
    compute the identical span set."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return duplicated_substring_spans(docs, k=5, min_docs=2)


SQL_NEW_BATCH = """
  SELECT doc_id + 100000 AS doc_id, substr(text, strpos(text, ' ') + 1) AS text
  FROM documents WHERE doc_id % 10 = 0
  UNION ALL
  SELECT doc_id + 300000 AS doc_id, reverse(text) AS text
  FROM documents WHERE doc_id % 10 = 5
"""


def new_batch(spark, sf_dir):
    """The canonical ingest batch every incremental-path query probes
    with (SQL twin: ``SQL_NEW_BATCH``): near-copies of every 10th doc
    (first word dropped) plus genuinely-new reversed docs that must
    match nothing. One definition — q122 (dedup probe), q161 (PSI
    drift), q171 (KS), q176 (novelty) all share it."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    near = docs.where(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.expr("substr(text, instr(text, ' ') + 1)").alias("text"),
    )
    fresh = docs.where(F.col("doc_id") % 10 == 5).select(
        (F.col("doc_id") + 300000).alias("doc_id"),
        F.reverse(F.col("text")).alias("text"),
    )
    return near.unionByName(fresh)



def _incremental_oracle_sql(num_hashes: int = 32, num_bands: int = 8, rows_per_band: int = 4) -> str:
    """Asymmetric (new-batch vs old-corpus) MinHash-LSH in DuckDB with
    the identical portable hash family: both sides' signatures, the
    first-band-collision probe, and the exact verify all reproduce the
    Spark bits."""
    from variantcalling_spark.operators.dedup import (
        MERSENNE31,
        PORTABLE_HASH_SQL,
        _minhash_coeffs,
    )

    p = MERSENNE31
    phash = PORTABLE_HASH_SQL.format(col="shingle")
    sig_cols = ",\n         ".join(
        f"MIN((CAST({a} AS BIGINT) * v + {b}) % {p}) AS h{i}"
        for i, (a, b) in enumerate(_minhash_coeffs(num_hashes))
    )

    def bucket_expr(b):
        acc = f"h{b * rows_per_band}"
        for r in range(1, rows_per_band):
            acc = f"(({acc}) * 8191 + h{b * rows_per_band + r}) % {p}"
        return acc

    def side(name, corpus_sql):
        bands = "\n  UNION ALL\n".join(
            f"  SELECT doc_id, {b} AS band, {bucket_expr(b)} AS bucket FROM sig_{name}"
            for b in range(num_bands)
        )
        return f"""
sh_{name} AS (
  SELECT DISTINCT doc_id, shingle
  FROM (
    SELECT doc_id,
           unnest([string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1] || ' ' || string_split(text, ' ')[i+2]
                   for i in generate_series(1, len(string_split(text, ' ')) - 2)]) AS shingle
    FROM {name}_c
  )
),
hv_{name} AS (SELECT doc_id, {phash} AS v FROM sh_{name}),
sig_{name} AS (SELECT doc_id, {sig_cols} FROM hv_{name} GROUP BY doc_id),
bands_{name} AS (
{bands}
)"""

    return f"""
WITH old_c AS (SELECT doc_id, text FROM documents),
new_c AS ({SQL_NEW_BATCH}),
{side("old", "old_c")[1:]},
{side("new", "new_c")[1:]},
cands AS (
  SELECT DISTINCT n.doc_id AS doc_new, o.doc_id AS doc_old
  FROM bands_new n JOIN bands_old o
    ON n.band = o.band AND n.bucket = o.bucket
),
sizes_new AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh_new GROUP BY doc_id),
sizes_old AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh_old GROUP BY doc_id),
shared AS (
  SELECT c.doc_new, c.doc_old, COUNT(*) AS n_shared
  FROM cands c
  JOIN sh_new a ON a.doc_id = c.doc_new
  JOIN sh_old b ON b.doc_id = c.doc_old AND b.shingle = a.shingle
  GROUP BY c.doc_new, c.doc_old
)
SELECT s.doc_new, s.doc_old,
       sn.n_sh AS n_new, so.n_sh AS n_old, s.n_shared,
       s.n_shared / CAST(sn.n_sh + so.n_sh - s.n_shared AS DOUBLE) AS jaccard
FROM shared s
JOIN sizes_new sn ON sn.doc_id = s.doc_new
JOIN sizes_old so ON so.doc_id = s.doc_old
WHERE s.n_shared / CAST(sn.n_sh + so.n_sh - s.n_shared AS DOUBLE) >= 0.6
"""


@query("q122_incremental_dedup", oracle=_incremental_oracle_sql())
def q122_incremental_dedup(spark, sf_dir):
    """Incremental dedup: a NEW ingest batch (near-copies of every 10th
    doc + genuinely-new reversed docs that must match nothing) probed
    against the OLD corpus's MinHash-LSH band index — the production
    shape for continuous corpus growth, where the old side's band table
    is a stored index computed once and each batch costs
    O(|batch| + collisions) with the corpus text never re-read. Probe is
    the asymmetric first-colliding-band join
    (`operators/dedup.py::portable_band_candidates_between`); survivors
    are verified with exact Jaccard (>= 0.6) against the old shingle
    sets. Every stage uses the engine-portable hash family, so
    discovery AND verification are value-checked bit-for-bit."""
    from variantcalling_spark.operators.dedup import (
        portable_band_candidates_between,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    new = new_batch(spark, sf_dir)

    # Rowwise form end to end: signature AND distinct-shingle array as
    # pure projections — no shingle explode, no signature groupBy, no
    # collect_set re-shuffle (bit-equal to the aggregate path, pinned in
    # tests). Each side persists once: probe and verify both consume it.
    from variantcalling_spark.operators.dedup import rowwise_minhash_signatures

    new_t = rowwise_minhash_signatures(new, n=3, include_shingles=True).transform(managed_persist)
    old_t = rowwise_minhash_signatures(docs, n=3, include_shingles=True).transform(managed_persist)
    cands = portable_band_candidates_between(
        new_t.select("doc_id", "signature"), old_t.select("doc_id", "signature")
    )
    verified = (
        cands.join(
            new_t.select(
                F.col("doc_id").alias("doc_new"), F.col("sh_set").alias("set_new")
            ),
            "doc_new",
        )
        .join(
            old_t.select(
                F.col("doc_id").alias("doc_old"), F.col("sh_set").alias("set_old")
            ),
            "doc_old",
        )
        .select(
            "doc_new",
            "doc_old",
            F.size("set_new").cast("long").alias("n_new"),
            F.size("set_old").cast("long").alias("n_old"),
            F.size(F.array_intersect("set_new", "set_old"))
            .cast("long")
            .alias("n_shared"),
        )
        .withColumn(
            "jaccard",
            F.col("n_shared")
            / (F.col("n_new") + F.col("n_old") - F.col("n_shared")).cast("double"),
        )
    )
    return verified.where(F.col("jaccard") >= 0.6).select(
        "doc_new", "doc_old", "n_new", "n_old", "n_shared", "jaccard"
    )


def _quality_sql(text_expr: str = "text") -> str:
    """The q61 per-doc quality formula as a DuckDB expression over
    ``text_expr`` (same weights/rounding as
    ``functions/text.py::quality_score``)."""
    from variantcalling_spark.functions.text import STOPWORDS

    sw = ", ".join(f"'{w}'" for w in STOPWORDS)
    return f"""ROUND(
      0.4 * (CASE WHEN length({text_expr}) BETWEEN 100 AND 400 THEN 1 ELSE 0 END)
      + 0.4 * (len(list_distinct(string_split({text_expr}, ' ')))
               / CAST(len(string_split({text_expr}, ' ')) AS DOUBLE))
      + 0.2 * LEAST((len(list_filter(string_split({text_expr}, ' '), w -> w IN ({sw})))
               / CAST(len(string_split({text_expr}, ' ')) AS DOUBLE)) * 5, 1.0), 6)"""


@query(
    "q131_cluster_representatives",
    oracle=f"""
WITH RECURSIVE corpus AS ({SQL_CORPUS}),
sh AS (
  SELECT DISTINCT doc_id, shingle
  FROM (
    SELECT doc_id,
           unnest([string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1] || ' ' || string_split(text, ' ')[i+2]
                   for i in generate_series(1, len(string_split(text, ' ')) - 2)]) AS shingle
    FROM corpus
  )
),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
shared AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
e AS (
  SELECT doc_a, doc_b FROM shared
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
  WHERE n_shared / CAST(sa.n_sh + sb.n_sh - n_shared AS DOUBLE) >= 0.6
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM e
  UNION
  SELECT doc_b AS src, doc_a AS dst FROM e
),
closure AS (
  SELECT src AS node, src AS reach FROM edges
  UNION
  SELECT c.node, edges.dst AS reach
  FROM closure c JOIN edges ON edges.src = c.reach
),
labeled AS (SELECT node, MIN(reach) AS cluster_id FROM closure GROUP BY node),
qual AS (SELECT doc_id, {_quality_sql()} AS q FROM corpus),
m AS (
  SELECT l.cluster_id, l.node, qual.q
  FROM labeled l JOIN qual ON qual.doc_id = l.node
),
r AS (
  SELECT cluster_id, node, q,
         ROW_NUMBER() OVER (PARTITION BY cluster_id ORDER BY q DESC, node) AS rn,
         COUNT(*) OVER (PARTITION BY cluster_id) AS n_members
  FROM m
)
SELECT cluster_id, node AS rep_id, n_members, q AS rep_quality
FROM r WHERE rn = 1
""",
)
def q131_cluster_representatives(spark, sf_dir):
    """Quality-aware canonical selection: near-dup clusters (q98's
    PPJoin pairs -> min-label connected components) keep their
    HIGHEST-QUALITY member (q61's composite score; doc_id tie-break)
    instead of the smallest id — the curation policy that preserves the
    cleanest copy of each duplicated page rather than an arbitrary one.
    One quality projection over the corpus, one per-cluster argmax
    window (clusters are near-dup groups — tiny partitions at any
    corpus size), so the selection adds a single shuffle on top of the
    component labels."""
    from pyspark.sql import Window as W

    from variantcalling_spark.functions.text import quality_score
    from variantcalling_spark.operators.dedup import connected_components

    c = corpus(spark, sf_dir).transform(managed_persist)
    sh = shingles(c, n=3).transform(managed_persist)
    cands = prefix_filtered_pairs(sh, threshold=0.6)
    pairs = jaccard_for_pairs(cands, sh).where(F.col("jaccard") >= 0.6)
    labels = connected_components(pairs)
    qual = c.select("doc_id", quality_score(F.col("text")).alias("q"))
    m = labels.select(F.col("label").alias("cluster_id"), F.col("node")).join(
        qual, F.col("node") == F.col("doc_id")
    )
    w = W.partitionBy("cluster_id")
    r = m.select(
        "cluster_id",
        "node",
        "q",
        F.row_number().over(w.orderBy(F.col("q").desc(), "node")).alias("rn"),
        F.count(F.lit(1)).over(w).alias("n_members"),
    )
    return r.where(F.col("rn") == 1).select(
        "cluster_id",
        F.col("node").alias("rep_id"),
        "n_members",
        F.col("q").alias("rep_quality"),
    )


def _cdc_oracle_sql(boundary_mod: int = 8) -> str:
    from variantcalling_spark.operators.dedup import PORTABLE_HASH_SQL

    ph_tok = PORTABLE_HASH_SQL.format(col="tok")
    ph_chunk = PORTABLE_HASH_SQL.format(col="chunk")
    return f"""
WITH corpus AS ({SQL_CORPUS}),
tok AS (
  SELECT doc_id, u.pos AS pos, u.tok AS tok FROM (
    SELECT doc_id, unnest(list_transform(string_split(text, ' '),
      (x, i) -> struct_pack(pos := i - 1, tok := x))) AS u
    FROM corpus
  )
),
flg AS (
  SELECT doc_id, pos, tok,
    CASE WHEN pos > 0 AND ({ph_tok}) % {boundary_mod} = 0 THEN 1 ELSE 0 END AS b
  FROM tok
),
cid AS (
  SELECT doc_id, pos, tok,
    SUM(b) OVER (PARTITION BY doc_id ORDER BY pos) AS chunk_id
  FROM flg
),
chunks AS (
  SELECT doc_id, chunk_id, string_agg(tok, ' ' ORDER BY pos) AS chunk,
         COUNT(*) AS n_tokens
  FROM cid GROUP BY doc_id, chunk_id
),
h AS (SELECT doc_id, chunk_id, n_tokens, {ph_chunk} AS chunk_hash FROM chunks),
dup AS (SELECT chunk_hash, COUNT(DISTINCT doc_id) AS nd FROM h GROUP BY chunk_hash)
SELECT doc_id,
  COUNT(*) AS n_chunks,
  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
  CAST(SUM(CASE WHEN nd > 1 THEN n_tokens ELSE 0 END) AS BIGINT) AS dup_tokens,
  ROUND(SUM(CASE WHEN nd > 1 THEN n_tokens ELSE 0 END)
        / CAST(SUM(n_tokens) AS DOUBLE), 6) AS dup_mass
FROM h JOIN dup USING (chunk_hash)
GROUP BY doc_id
HAVING SUM(CASE WHEN nd > 1 THEN n_tokens ELSE 0 END)
       / CAST(SUM(n_tokens) AS DOUBLE) >= 0.5
"""


@query("q135_cdc_chunk_dedup", oracle=_cdc_oracle_sql())
def q135_cdc_chunk_dedup(spark, sf_dir):
    """Content-defined chunk dedup (the LBFS/rsync boundary rule at
    token granularity): chunk boundaries open where the token's portable
    hash ≡ 0 (mod 8), so boundaries survive insertions/shifts that break
    fixed-width blocking; chunks are hashed and the TOKEN MASS covered
    by chunks duplicated across documents is reported per document,
    keeping docs with >= 50% duplicated mass. The dropped-first-word
    near-copies of the augmented corpus share every chunk after the
    first boundary — exactly the property fixed-width chunking loses to
    offset shift — so they surface alongside the exact copies, while
    incidental single-token chunk collisions stay under the mass
    threshold. Plan: explode + one per-document window + two groupBys,
    all partitioned by doc/chunk hash — no all-pairs anything."""
    from variantcalling_spark.operators.dedup import cdc_chunks

    # both the global chunk-frequency side and the per-doc side consume
    # the chunk table; persist so the chunking projection runs once
    chunks = cdc_chunks(corpus(spark, sf_dir), boundary_mod=8).transform(
        managed_persist
    )
    dup = chunks.groupBy("chunk_hash").agg(
        F.countDistinct("doc_id").alias("nd")
    )
    dup_mass = F.sum(F.when(F.col("nd") > 1, F.col("n_tokens")).otherwise(0))
    tot_mass = F.sum("n_tokens")
    return (
        chunks.join(dup, "chunk_hash")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            tot_mass.cast("bigint").alias("n_tokens"),
            dup_mass.cast("bigint").alias("dup_tokens"),
            F.round(dup_mass / tot_mass.cast("double"), 6).alias("dup_mass"),
        )
        .where(F.col("dup_tokens") / F.col("n_tokens").cast("double") >= 0.5)
    )


def _leakage_split_oracle_sql(train_pct: int = 8) -> str:
    from variantcalling_spark.operators.dedup import PORTABLE_HASH_SQL

    ph = PORTABLE_HASH_SQL.format(col="CAST(cluster_id AS VARCHAR)")
    return f"""
WITH RECURSIVE corpus AS ({SQL_CORPUS}),
sh AS (
  SELECT DISTINCT doc_id, shingle
  FROM (
    SELECT doc_id,
           unnest([string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1] || ' ' || string_split(text, ' ')[i+2]
                   for i in generate_series(1, len(string_split(text, ' ')) - 2)]) AS shingle
    FROM corpus
  )
),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
shared AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
e AS (
  SELECT doc_a, doc_b FROM shared
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
  WHERE n_shared / CAST(sa.n_sh + sb.n_sh - n_shared AS DOUBLE) >= 0.6
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM e
  UNION
  SELECT doc_b AS src, doc_a AS dst FROM e
),
closure AS (
  SELECT src AS node, src AS reach FROM edges
  UNION
  SELECT c.node, edges.dst AS reach
  FROM closure c JOIN edges ON edges.src = c.reach
),
labeled AS (SELECT node, MIN(reach) AS label FROM closure GROUP BY node),
assign AS (
  SELECT c.doc_id, COALESCE(l.label, c.doc_id) AS cluster_id
  FROM corpus c LEFT JOIN labeled l ON l.node = c.doc_id
)
SELECT doc_id, cluster_id,
  CASE WHEN ({ph}) % 10 < {train_pct} THEN 'train' ELSE 'val' END AS split
FROM assign
"""


@query("q137_leakage_safe_split", oracle=_leakage_split_oracle_sql())
def q137_leakage_safe_split(spark, sf_dir):
    """Leakage-safe train/val split: near-duplicate CLUSTERS (exact
    Jaccard >= 0.6 via PPJoin discovery, min-label connected components)
    are the unit of assignment, not documents — a hash split at document
    granularity puts near-copies of one passage on both sides of the
    split and inflates eval (the classic contamination-by-duplication
    failure). Every doc gets cluster_id = its component label (itself if
    unpaired) and split = md5-hash(cluster_id) mod 10 -> 80/20, so all
    members of a cluster land on the same side by construction.
    Deterministic, shuffle-bounded: the split itself is a pure
    projection over the component labels."""
    from variantcalling_spark.operators.dedup import (
        connected_components,
        portable_string_hash,
    )

    c = corpus(spark, sf_dir)
    sh = shingles(c, n=3).transform(managed_persist)
    cands = prefix_filtered_pairs(sh, threshold=0.6)
    pairs = jaccard_for_pairs(cands, sh).where(F.col("jaccard") >= 0.6)
    labels = connected_components(pairs).withColumnRenamed("node", "doc_id")
    cluster = F.coalesce(F.col("label"), F.col("doc_id"))
    return (
        c.select("doc_id")
        .join(labels, "doc_id", "left")
        .select(
            "doc_id",
            cluster.alias("cluster_id"),
            F.when(
                portable_string_hash(cluster.cast("string")) % 10 < 8, "train"
            )
            .otherwise("val")
            .alias("split"),
        )
    )


@query(
    "q139_containment_pairs",
    oracle=f"""
WITH corpus AS ({SQL_CORPUS}),
sh AS (
  SELECT DISTINCT doc_id, shingle
  FROM (
    SELECT doc_id,
           unnest([string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1] || ' ' || string_split(text, ' ')[i+2]
                   for i in generate_series(1, len(string_split(text, ' ')) - 2)]) AS shingle
    FROM corpus
  )
),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
shared AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b, sa.n_sh AS n_a, sb.n_sh AS n_b, n_shared,
       ROUND(n_shared / CAST(sa.n_sh AS DOUBLE), 6) AS containment
FROM shared
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE n_shared / CAST(sa.n_sh AS DOUBLE) >= 0.9
""",
)
def q139_containment_pairs(spark, sf_dir):
    """Asymmetric containment detection |A∩B|/|A| >= 0.9 — the quote /
    excerpt / subset relation whole-document Jaccard misses (a passage
    fully inside a longer doc has low Jaccard but containment ~1; the
    augmented corpus's dropped-first-word docs are contained in their
    originals at ~0.98 while Jaccard is lower). Discovery via the
    asymmetric prefix filter (contained side prunes to its rare-shingle
    prefix, container side stays whole — lossless by pigeonhole), exact
    array_intersect verify; the oracle spells the naive all-sharing-
    pairs algebra. Directed pairs: both directions emitted for mutual
    containment (exact copies)."""
    from variantcalling_spark.operators.dedup import containment_candidate_pairs

    sh = shingles(corpus(spark, sf_dir), n=3).transform(managed_persist)
    cands = containment_candidate_pairs(sh, threshold=0.9)
    verified = jaccard_for_pairs(cands, sh)
    cont = F.col("n_shared") / F.col("n_a").cast("double")
    return (
        verified.where(cont >= 0.9)
        .select(
            "doc_a",
            "doc_b",
            "n_a",
            "n_b",
            "n_shared",
            F.round(cont, 6).alias("containment"),
        )
    )


@query(
    "q145_contained_doc_pruning",
    oracle=f"""
WITH corpus AS ({SQL_CORPUS}),
sh AS (
  SELECT DISTINCT doc_id, shingle
  FROM (
    SELECT doc_id,
           unnest([string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1] || ' ' || string_split(text, ' ')[i+2]
                   for i in generate_series(1, len(string_split(text, ' ')) - 2)]) AS shingle
    FROM corpus
  )
),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
shared AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
contained AS (
  SELECT DISTINCT doc_a AS doc_id
  FROM shared
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
  WHERE n_shared / CAST(sa.n_sh AS DOUBLE) >= 0.9
    AND (sb.n_sh > sa.n_sh OR (sb.n_sh = sa.n_sh AND doc_b < doc_a))
),
flagged AS (
  SELECT c.doc_id,
         CASE WHEN c.doc_id >= 200000 THEN 'exact_copy'
              WHEN c.doc_id >= 100000 THEN 'near_copy'
              ELSE 'base' END AS grp,
         CASE WHEN ct.doc_id IS NULL THEN 0 ELSE 1 END AS removed
  FROM corpus c LEFT JOIN contained ct USING (doc_id)
)
SELECT grp, COUNT(*) AS n_docs,
       CAST(SUM(removed) AS BIGINT) AS n_removed,
       CAST(SUM(1 - removed) AS BIGINT) AS n_kept
FROM flagged GROUP BY grp
""",
)
def q145_contained_doc_pruning(spark, sf_dir):
    """Quote/excerpt pruning — the funnel built on asymmetric
    containment (q139's operator composed into a removal decision):
    drop every document >= 0.9-contained in a STRICTLY LARGER document
    (equal-size mutual containments tie-break by id so exactly one
    survives). On the augmented corpus the constructed exact and
    dropped-first-word near copies are removed while base documents
    survive — reported per provenance group. Discovery is the lossless
    contained-side prefix filter (never all-pairs); the removal is one
    anti-join shape (left join + null test) over the corpus."""
    from variantcalling_spark.operators.dedup import containment_candidate_pairs

    c = corpus(spark, sf_dir)
    sh = shingles(c, n=3).transform(managed_persist)
    ver = jaccard_for_pairs(containment_candidate_pairs(sh, threshold=0.9), sh)
    contained = (
        ver.where(
            (F.col("n_shared") / F.col("n_a").cast("double") >= 0.9)
            & (
                (F.col("n_b") > F.col("n_a"))
                | ((F.col("n_b") == F.col("n_a")) & (F.col("doc_b") < F.col("doc_a")))
            )
        )
        .select(F.col("doc_a").alias("doc_id"))
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    grp = (
        F.when(F.col("doc_id") >= 200000, "exact_copy")
        .when(F.col("doc_id") >= 100000, "near_copy")
        .otherwise("base")
    )
    removed = F.when(F.col("hit").isNull(), 0).otherwise(1)
    return (
        c.join(contained, "doc_id", "left")
        .select(grp.alias("grp"), removed.alias("removed"))
        .groupBy("grp")
        .agg(
            cnt("n_docs"),
            F.sum("removed").cast("bigint").alias("n_removed"),
            F.sum(1 - F.col("removed")).cast("bigint").alias("n_kept"),
        )
    )


@query(
    "q150_soft_dedup_weights",
    oracle=f"""
WITH RECURSIVE corpus AS ({SQL_CORPUS}),
sh AS (
  SELECT DISTINCT doc_id, shingle
  FROM (
    SELECT doc_id,
           unnest([string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1] || ' ' || string_split(text, ' ')[i+2]
                   for i in generate_series(1, len(string_split(text, ' ')) - 2)]) AS shingle
    FROM corpus
  )
),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
shared AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
e AS (
  SELECT doc_a, doc_b FROM shared
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
  WHERE n_shared / CAST(sa.n_sh + sb.n_sh - n_shared AS DOUBLE) >= 0.6
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM e
  UNION
  SELECT doc_b AS src, doc_a AS dst FROM e
),
closure AS (
  SELECT src AS node, src AS reach FROM edges
  UNION
  SELECT c.node, edges.dst AS reach
  FROM closure c JOIN edges ON edges.src = c.reach
),
labeled AS (SELECT node, MIN(reach) AS label FROM closure GROUP BY node),
assign AS (
  SELECT c.doc_id, COALESCE(l.label, c.doc_id) AS cluster_id,
         len(string_split(c.text, ' ')) AS n_tokens
  FROM corpus c LEFT JOIN labeled l ON l.node = c.doc_id
),
csize AS (SELECT cluster_id, COUNT(*) AS n_members FROM assign GROUP BY cluster_id)
SELECT a.doc_id, a.cluster_id, cs.n_members,
       ROUND(1.0 / cs.n_members, 6) AS weight,
       ROUND(a.n_tokens / CAST(cs.n_members AS DOUBLE), 6) AS effective_tokens
FROM assign a JOIN csize cs USING (cluster_id)
""",
)
def q150_soft_dedup_weights(spark, sf_dir):
    """SOFT deduplication (the SlimPajama/DataComp reweighting
    alternative to dropping): every document keeps a training weight of
    1/|its near-dup cluster| — duplicate content contributes one
    document's worth of gradient mass in expectation regardless of how
    many copies exist, without the information loss of hard removal.
    Clusters are the same PPJoin-pairs -> connected-components labels
    the hard-dedup paths use (q98/q137); the weights come from one
    cluster-size aggregate equi-joined back (AQE broadcasts it when
    genuinely small) — the marginal cost of soft over hard dedup is
    one aggregate + one join."""
    from variantcalling_spark.operators.dedup import connected_components

    c = corpus(spark, sf_dir)
    sh = shingles(c, n=3).transform(managed_persist)
    cands = prefix_filtered_pairs(sh, threshold=0.6)
    pairs = jaccard_for_pairs(cands, sh).where(F.col("jaccard") >= 0.6)
    labels = connected_components(pairs).withColumnRenamed("node", "doc_id")
    assign = (
        c.select("doc_id", F.size(F.split("text", " ")).alias("n_tokens"))
        .join(labels, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("label"), F.col("doc_id")).alias("cluster_id"),
            "n_tokens",
        )
    )
    # csize has one row per CLUSTER — O(n_docs) with mostly-singleton
    # corpora, so no forced broadcast: the equi-join shuffles on
    # cluster_id and AQE picks broadcast when the table is actually small
    csize = assign.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("n_members"))
    return assign.join(csize, "cluster_id").select(
        "doc_id",
        "cluster_id",
        "n_members",
        F.round(F.lit(1.0) / F.col("n_members"), 6).alias("weight"),
        F.round(F.col("n_tokens") / F.col("n_members").cast("double"), 6).alias(
            "effective_tokens"
        ),
    )


def _q159_oracle() -> str:
    from variantcalling_spark.queries import _REGISTRY

    spans = _REGISTRY["q114_substring_dedup_spans"].oracle
    return f"""
WITH spans AS ({spans}),
per_doc AS (
  SELECT doc_id, CAST(SUM(span_tokens) AS BIGINT) AS dup_tokens
  FROM spans GROUP BY doc_id
),
d AS (
  SELECT doc_id, source,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
  FROM documents
)
SELECT d.source,
       COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN p.dup_tokens IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_docs_with_dup,
       ROUND(SUM(CASE WHEN p.dup_tokens IS NOT NULL THEN 1 ELSE 0 END)
             / CAST(COUNT(*) AS DOUBLE), 6) AS dup_doc_frac,
       CAST(SUM(d.n_tokens) AS BIGINT) AS total_tokens,
       CAST(SUM(COALESCE(p.dup_tokens, 0)) AS BIGINT) AS dup_span_tokens,
       ROUND(SUM(COALESCE(p.dup_tokens, 0)) / CAST(SUM(d.n_tokens) AS DOUBLE), 6)
         AS dup_token_frac
FROM d LEFT JOIN per_doc p USING (doc_id)
GROUP BY d.source
"""


@query("q159_duplication_profile", oracle=_q159_oracle())
def q159_duplication_profile(spark, sf_dir):
    """Corpus duplication profile — the report a curation run publishes
    BEFORE deciding how aggressively to cut (the Lee et al. 2022
    'what fraction of the corpus is repeated passages' table): per
    source, how many documents contain any duplicated span (q114's
    substring machinery) and what fraction of the source's token mass
    sits inside those spans. Composes the span operator with one
    per-doc aggregate and one per-source aggregate; the span side
    collapses to one row per affected document before touching the
    document table, so the final join is duplicated-docs-sized, not
    span-sized."""
    from variantcalling_spark.operators.dedup import duplicated_substring_spans

    docs = load_table(spark, sf_dir, "documents")
    spans = duplicated_substring_spans(
        docs.select("doc_id", "text"), k=5, min_docs=2
    )
    per_doc = spans.groupBy("doc_id").agg(
        F.sum("span_tokens").cast("bigint").alias("dup_tokens")
    )
    d = docs.select(
        "doc_id",
        "source",
        F.size(F.split("text", " ")).cast("bigint").alias("n_tokens"),
    )
    has_dup = F.sum(
        F.when(F.col("dup_tokens").isNotNull(), 1).otherwise(0)
    )
    return (
        d.join(per_doc, "doc_id", "left")
        .groupBy("source")
        .agg(
            cnt("n_docs"),
            has_dup.cast("bigint").alias("n_docs_with_dup"),
            F.round(has_dup / F.count(F.lit(1)).cast("double"), 6).alias(
                "dup_doc_frac"
            ),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
            F.sum(F.coalesce("dup_tokens", F.lit(0).cast("bigint")))
            .cast("bigint")
            .alias("dup_span_tokens"),
            F.round(
                F.sum(F.coalesce("dup_tokens", F.lit(0).cast("bigint")))
                / F.sum("n_tokens").cast("double"),
                6,
            ).alias("dup_token_frac"),
        )
    )


PSI_BINS = 10
PSI_WIDTH = 8


@query(
    "q161_ingest_distribution_drift",
    oracle=f"""
WITH newb AS ({SQL_NEW_BATCH}),
ob AS (
  SELECT LEAST(len(string_split(text, ' ')) // {PSI_WIDTH}, {PSI_BINS - 1}) AS bin
  FROM documents
),
nb AS (
  SELECT LEAST(len(string_split(text, ' ')) // {PSI_WIDTH}, {PSI_BINS - 1}) AS bin
  FROM newb
),
oc AS (SELECT bin, COUNT(*) AS n_old FROM ob GROUP BY bin),
ncnt AS (SELECT bin, COUNT(*) AS n_new FROM nb GROUP BY bin),
tot AS (SELECT (SELECT COUNT(*) FROM ob) AS t_old, (SELECT COUNT(*) FROM nb) AS t_new),
bins AS (SELECT unnest(generate_series(0, {PSI_BINS - 1})) AS bin)
SELECT CAST(b.bin AS BIGINT) AS bin,
       CAST(COALESCE(oc.n_old, 0) AS BIGINT) AS n_old,
       CAST(COALESCE(ncnt.n_new, 0) AS BIGINT) AS n_new,
       ROUND(
         ((COALESCE(oc.n_old, 0) + 1) / CAST(t.t_old + {PSI_BINS} AS DOUBLE)
          - (COALESCE(ncnt.n_new, 0) + 1) / CAST(t.t_new + {PSI_BINS} AS DOUBLE))
         * ln(((COALESCE(oc.n_old, 0) + 1) * (t.t_new + {PSI_BINS}))
              / CAST((COALESCE(ncnt.n_new, 0) + 1) * (t.t_old + {PSI_BINS}) AS DOUBLE)),
         6) AS psi_contrib
FROM bins b
LEFT JOIN oc ON oc.bin = b.bin
LEFT JOIN ncnt ON ncnt.bin = b.bin
CROSS JOIN tot t
""",
)
def q161_ingest_distribution_drift(spark, sf_dir):
    """Population-stability-index drift between the stored corpus and an
    ingest batch — the monitoring gate a continuous pipeline evaluates
    alongside q122's dedup probe (PSI > 0.2 on the length distribution
    means the new crawl slice is a different population; retune filters
    before ingesting). Laplace-smoothed per-bin contributions
    (p_a − p_b)·ln(p_a/p_b) computed from exact integer counts — the
    single ln argument is a ratio of int64 products, bit-identical on
    both engines before the one rounded multiply. Fixed bin edges
    (width {PSI_WIDTH}, clamp to {PSI_BINS}), so the bin assignment is
    pure projection; two scan-aggregates + a {PSI_BINS}-row assembly —
    no shuffle larger than the bin domain."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    newb = new_batch(spark, sf_dir)

    def binned(df):
        return df.select(
            F.least(
                F.size(F.split("text", " ")) / F.lit(PSI_WIDTH),
                F.lit(PSI_BINS - 1),
            )
            .cast("bigint")
            .alias("bin")
        )

    spark_b = spark
    oc = binned(docs).groupBy("bin").agg(cnt("n_old"))
    ncnt = binned(newb).groupBy("bin").agg(cnt("n_new"))
    t_old = binned(docs).agg(F.count(F.lit(1)).alias("t_old"))
    t_new = binned(newb).agg(F.count(F.lit(1)).alias("t_new"))
    bins = spark_b.range(PSI_BINS).select(F.col("id").alias("bin"))
    no = F.coalesce("n_old", F.lit(0).cast("bigint"))
    nn = F.coalesce("n_new", F.lit(0).cast("bigint"))
    B = PSI_BINS
    return (
        bins.join(oc, "bin", "left")
        .join(ncnt, "bin", "left")
        .crossJoin(F.broadcast(t_old))
        .crossJoin(F.broadcast(t_new))
        .select(
            "bin",
            no.alias("n_old"),
            nn.alias("n_new"),
            F.round(
                (
                    (no + 1) / (F.col("t_old") + B).cast("double")
                    - (nn + 1) / (F.col("t_new") + B).cast("double")
                )
                * F.log(
                    ((no + 1) * (F.col("t_new") + B))
                    / ((nn + 1) * (F.col("t_old") + B)).cast("double")
                ),
                6,
            ).alias("psi_contrib"),
        )
    )


WQ_SCALE = 1_000_000


@query(
    "q163_weighted_quantiles",
    oracle=f"""
WITH corpus AS ({SQL_CORPUS}),
cs AS (
  SELECT doc_id, text, COUNT(*) OVER (PARTITION BY md5(text)) AS cluster_size
  FROM corpus
),
w AS (
  SELECT c.doc_id,
         d.source,
         CAST(len(string_split(c.text, ' ')) AS BIGINT) AS value,
         CAST({WQ_SCALE} // c.cluster_size AS BIGINT) AS wt
  FROM cs c JOIN documents d ON d.doc_id = c.doc_id % 100000
),
cum AS (
  SELECT source, doc_id, value, wt,
         SUM(wt) OVER (PARTITION BY source ORDER BY value, doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumw,
         SUM(wt) OVER (PARTITION BY source) AS totw
  FROM w
)
SELECT source,
       CAST(MAX(totw) AS BIGINT) AS total_weight,
       CAST(MIN(CASE WHEN cumw * 2 >= totw THEN value END) AS BIGINT) AS w_median,
       CAST(MIN(CASE WHEN cumw * 10 >= totw * 9 THEN value END) AS BIGINT) AS w_p90
FROM cum GROUP BY source
""",
)
def q163_weighted_quantiles(spark, sf_dir):
    """Weighted quantiles under soft dedup — the statistic that makes
    q150's duplicate-discounted weights actionable: per source, the
    length distribution where each exact-dup cluster contributes ONE
    document's mass total (a boilerplate page duplicated 200x no longer
    drags the corpus median). Integer micro-weights
    ({WQ_SCALE} DIV cluster_size) keep every cumulative sum and the
    threshold tests (cumw*2 >= tot, cumw*10 >= 9*tot — no division)
    bigint-exact with a deterministic (value, doc_id) accumulation
    order, so the quantile picks are bit-reproducible cross-engine.
    Plan: one md5 window for cluster sizes, one ordered window per
    source for the cumulative weight, one aggregate — the canonical
    distributed weighted-quantile shape. At petabyte group sizes swap
    in ``operators/ordered.py::weighted_quantile_bucketed`` (the
    histogram-bucket two-phase decomposition; output equality with
    this windowed form is pinned in tests/test_ordered.py)."""
    from pyspark.sql import Window as W

    c = corpus(spark, sf_dir)
    cs = c.withColumn(
        "cluster_size",
        F.count(F.lit(1)).over(W.partitionBy(F.md5("text"))),
    )
    docs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("orig_id"), "source"
    )
    w = (
        cs.withColumn("orig_id", F.col("doc_id") % 100000)
        .join(docs, "orig_id")
        .select(
            "doc_id",
            "source",
            F.size(F.split("text", " ")).cast("bigint").alias("value"),
            F.expr(f"CAST({WQ_SCALE} DIV cluster_size AS BIGINT)").alias("wt"),
        )
    )
    wo = W.partitionBy("source").orderBy("value", "doc_id").rowsBetween(
        W.unboundedPreceding, 0
    )
    wt_all = W.partitionBy("source")
    cum = w.select(
        "source",
        "value",
        F.sum("wt").over(wo).alias("cumw"),
        F.sum("wt").over(wt_all).alias("totw"),
    )
    return cum.groupBy("source").agg(
        F.max("totw").cast("bigint").alias("total_weight"),
        F.min(F.when(F.col("cumw") * 2 >= F.col("totw"), F.col("value")))
        .cast("bigint")
        .alias("w_median"),
        F.min(F.when(F.col("cumw") * 10 >= F.col("totw") * 9, F.col("value")))
        .cast("bigint")
        .alias("w_p90"),
    )


@query(
    "q171_ks_two_sample",
    oracle=f"""
WITH newb AS ({SQL_NEW_BATCH}),
a AS (SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS v FROM documents),
b AS (SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS v FROM newb),
na AS (SELECT COUNT(*) AS n FROM a),
nb AS (SELECT COUNT(*) AS n FROM b),
h AS (
  SELECT v, SUM(ca) AS ca, SUM(cb) AS cb FROM (
    SELECT v, COUNT(*) AS ca, 0 AS cb FROM a GROUP BY v
    UNION ALL
    SELECT v, 0 AS ca, COUNT(*) AS cb FROM b GROUP BY v
  ) GROUP BY v
),
cum AS (
  SELECT v,
         SUM(ca) OVER (ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cuma,
         SUM(cb) OVER (ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumb
  FROM h
),
d AS (
  SELECT MAX(ABS(CAST(cuma * (SELECT n FROM nb)
                      - cumb * (SELECT n FROM na) AS BIGINT))) AS ks_num
  FROM cum
)
SELECT CAST((SELECT n FROM na) AS BIGINT) AS n_a,
       CAST((SELECT n FROM nb) AS BIGINT) AS n_b,
       CAST(d.ks_num AS BIGINT) AS ks_num,
       CAST((SELECT n FROM na) * (SELECT n FROM nb) AS BIGINT) AS ks_den,
       ROUND(d.ks_num / CAST((SELECT n FROM na) * (SELECT n FROM nb) AS DOUBLE), 6)
         AS ks_stat
FROM d
""",
)
def q171_ks_two_sample(spark, sf_dir):
    """Exact two-sample Kolmogorov-Smirnov statistic between the stored
    corpus and the ingest batch — the UNBINNED companion of q161's PSI
    (PSI answers 'how much drift per fixed bin'; KS answers 'what is
    the largest CDF gap anywhere', immune to bin-edge choices). Exact
    by cross-multiplication: D = max|cumA·n_B − cumB·n_A| / (n_A·n_B)
    never forms a float CDF — the sup is a MAX over bigints. Plan:
    per-side value histograms (map-side combinable), one merged
    cumulative window over the DISTINCT-VALUE domain (never row-sized),
    a 1-row max. The same shape serves corpus-vs-corpus AB comparisons
    at any scale."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    newb = new_batch(spark, sf_dir)

    def vals(df):
        return df.select(F.size(F.split("text", " ")).cast("bigint").alias("v"))

    a, b = vals(docs), vals(newb)
    ha = a.groupBy("v").agg(cnt("ca")).withColumn("cb", F.lit(0).cast("bigint"))
    hb = (
        b.groupBy("v")
        .agg(cnt("cb"))
        .select("v", F.lit(0).cast("bigint").alias("ca"), "cb")
    )
    h = (
        ha.select("v", "ca", "cb")
        .unionByName(hb)
        .groupBy("v")
        .agg(F.sum("ca").alias("ca"), F.sum("cb").alias("cb"))
    )
    from pyspark.sql import Window as W

    wc = W.orderBy("v").rowsBetween(W.unboundedPreceding, 0)
    na = a.agg(F.count(F.lit(1)).alias("n_a"))
    nb = b.agg(F.count(F.lit(1)).alias("n_b"))
    cum = h.select(
        "v",
        F.sum("ca").over(wc).alias("cuma"),
        F.sum("cb").over(wc).alias("cumb"),
    )
    d = (
        cum.crossJoin(F.broadcast(na))
        .crossJoin(F.broadcast(nb))
        .agg(
            F.max(
                F.abs(F.col("cuma") * F.col("n_b") - F.col("cumb") * F.col("n_a"))
            ).alias("ks_num"),
            F.max("n_a").alias("n_a"),
            F.max("n_b").alias("n_b"),
        )
    )
    return d.select(
        F.col("n_a").cast("bigint").alias("n_a"),
        F.col("n_b").cast("bigint").alias("n_b"),
        F.col("ks_num").cast("bigint").alias("ks_num"),
        (F.col("n_a") * F.col("n_b")).cast("bigint").alias("ks_den"),
        F.round(
            F.col("ks_num") / (F.col("n_a") * F.col("n_b")).cast("double"), 6
        ).alias("ks_stat"),
    )


def _q176_oracle() -> str:
    from variantcalling_spark.queries import _REGISTRY

    q122 = _REGISTRY["q122_incremental_dedup"].oracle
    return f"""
WITH matches AS ({q122}),
newb AS ({SQL_NEW_BATCH}),
best AS (
  SELECT doc_new, MAX(jaccard) AS best_jaccard
  FROM matches GROUP BY doc_new
)
SELECT n.doc_id AS doc_new,
       ROUND(COALESCE(b.best_jaccard, 0.0), 6) AS best_jaccard,
       ROUND(1.0 - COALESCE(b.best_jaccard, 0.0), 6) AS novelty,
       CASE WHEN b.doc_new IS NULL THEN 1 ELSE 0 END AS no_collision
FROM newb n LEFT JOIN best b ON b.doc_new = n.doc_id
"""


@query("q176_ingest_novelty", oracle=_q176_oracle())
def q176_ingest_novelty(spark, sf_dir):
    """Novelty-first ingest ranking: each new document scored by
    1 − (best verified Jaccard against the stored corpus index) — the
    selection signal for 'prioritize data we do not already have'
    (D4's dedup-then-diversify intuition at the lexical level, and the
    natural companion report to q122's match list: q122 says what to
    DROP, this ranks what to KEEP FIRST). Near-copies score ~0
    novelty, the reversed docs score exactly 1.0 with no_collision=1
    (the index probe never even surfaced them — novelty of the
    never-collided is free, no verify cost). Cost is q122's probe plus
    one per-doc max and an anti-join-shaped left join on the batch."""
    from variantcalling_spark.queries import _REGISTRY

    matches = _REGISTRY["q122_incremental_dedup"].fn(spark, sf_dir)
    newb = new_batch(spark, sf_dir).select("doc_id")
    best = matches.groupBy("doc_new").agg(F.max("jaccard").alias("best_jaccard"))
    return (
        newb.join(best, newb["doc_id"] == best["doc_new"], "left")
        .select(
            newb["doc_id"].alias("doc_new"),
            F.round(F.coalesce("best_jaccard", F.lit(0.0)), 6).alias(
                "best_jaccard"
            ),
            F.round(1.0 - F.coalesce("best_jaccard", F.lit(0.0)), 6).alias(
                "novelty"
            ),
            F.when(best["doc_new"].isNull(), 1).otherwise(0).cast("int").alias(
                "no_collision"
            ),
        )
    )


@query(
    "q180_edit_distance_neardup",
    oracle=f"""
WITH corpus AS ({SQL_CORPUS}),
w AS (
  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS word FROM corpus
),
rare AS (
  SELECT word FROM w GROUP BY word
  HAVING COUNT(*) BETWEEN 2 AND 4
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM w a JOIN rare USING (word) JOIN w b USING (word)
  WHERE a.doc_id < b.doc_id
),
v AS (
  SELECT c.doc_a, c.doc_b,
         CAST(levenshtein(ta.text, tb.text) AS BIGINT) AS edit_dist,
         CAST(GREATEST(length(ta.text), length(tb.text)) AS BIGINT) AS max_len
  FROM cand c
  JOIN corpus ta ON ta.doc_id = c.doc_a
  JOIN corpus tb ON tb.doc_id = c.doc_b
  WHERE ABS(length(ta.text) - length(tb.text))
        <= GREATEST(length(ta.text), length(tb.text)) // 5
)
SELECT doc_a, doc_b, edit_dist, max_len,
       ROUND(1.0 - edit_dist / CAST(max_len AS DOUBLE), 6) AS similarity
FROM v
WHERE edit_dist * 5 <= max_len
""",
)
def q180_edit_distance_neardup(spark, sf_dir):
    """Character-level near-dup discovery: edit-distance similarity
    ≥ 0.8, the finest-grained member of the dedup family (catches the
    single-character OCR/encoding mutations that token-level Jaccard
    rounds away). Scale shape: candidates come from an equi-join on
    RARE shared words (df 2-4 — the rare-token banding that makes
    pair count collision-bounded instead of n²), a length-difference
    filter prunes before the quadratic kernel (|lenA−lenB| is a lower
    bound on edit distance), and only survivors pay `levenshtein` —
    which runs built-in on BOTH engines (JVM codegen here, native in
    the oracle), value-proving the two implementations agree
    character-for-character. Threshold arithmetic stays integer
    (dist·5 ≤ maxlen)."""
    c = corpus(spark, sf_dir).transform(managed_persist)
    w = (
        c.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
        .distinct()
        # junction cut (campaign recipe): w feeds rare + both join
        # aliases — persist alone left the explode subtree re-inlined
        # per reference (q204 measured 101 Exchange in the static plan)
        .transform(lineage_cut)
    )
    rare = (
        w.groupBy("word")
        .agg(cnt("df"))
        .where((F.col("df") >= 2) & (F.col("df") <= 4))
        .select("word")
    )
    a = w.join(rare, "word").select("word", F.col("doc_id").alias("doc_a"))
    b = w.select("word", F.col("doc_id").alias("doc_b"))
    cand = (
        a.join(b, "word")
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    ta = c.select(F.col("doc_id").alias("doc_a"), F.col("text").alias("text_a"))
    tb = c.select(F.col("doc_id").alias("doc_b"), F.col("text").alias("text_b"))
    v = (
        cand.join(ta, "doc_a")
        .join(tb, "doc_b")
        .where(
            F.abs(F.length("text_a") - F.length("text_b"))
            <= F.expr("GREATEST(length(text_a), length(text_b)) DIV 5")
        )
        .select(
            "doc_a",
            "doc_b",
            F.levenshtein("text_a", "text_b").cast("bigint").alias("edit_dist"),
            F.greatest(F.length("text_a"), F.length("text_b"))
            .cast("bigint")
            .alias("max_len"),
        )
    )
    return v.where(F.col("edit_dist") * 5 <= F.col("max_len")).select(
        "doc_a",
        "doc_b",
        "edit_dist",
        "max_len",
        F.round(1.0 - F.col("edit_dist") / F.col("max_len").cast("double"), 6).alias(
            "similarity"
        ),
    )


def _q201_oracle() -> str:
    from variantcalling_spark.queries import _REGISTRY

    split = _REGISTRY["q137_leakage_safe_split"].oracle
    pairs = _REGISTRY["q65_ngram_jaccard"].oracle
    return f"""
WITH split AS ({split}),
pairs AS (SELECT doc_a, doc_b FROM ({pairs}) p WHERE jaccard >= 0.6)
SELECT
  CAST((SELECT COUNT(*) FROM pairs) AS BIGINT) AS n_neardup_pairs,
  CAST((SELECT COUNT(*)
        FROM pairs pr
        JOIN split sa ON sa.doc_id = pr.doc_a
        JOIN split sb ON sb.doc_id = pr.doc_b
        WHERE sa.split <> sb.split) AS BIGINT) AS n_straddling,
  CAST((SELECT COUNT(*) FROM split WHERE split = 'train') AS BIGINT) AS n_train,
  CAST((SELECT COUNT(*) FROM split WHERE split = 'val') AS BIGINT)
    AS n_holdout
"""


@query("q201_split_integrity_audit", oracle=_q201_oracle())
def q201_split_integrity_audit(spark, sf_dir):
    """Split-integrity audit — the verification pass a training run
    executes BEFORE trusting q137's leakage-safe split: join every
    verified near-dup pair (q65's exact-Jaccard machinery) against the
    split assignment and count pairs whose members landed on different
    sides. By q137's construction (components get one side) the count
    is provably zero, and this query makes that property EXECUTABLE
    regression cover rather than a docstring claim — if any upstream
    change (hash family, component algorithm, threshold drift)
    breaks the invariant, this row stops matching its oracle. Cost:
    the pair table joined twice against the split projection —
    pair-set-sized, not corpus-sized."""
    from variantcalling_spark.queries import _REGISTRY

    split = _REGISTRY["q137_leakage_safe_split"].fn(spark, sf_dir).transform(
        managed_persist
    )
    pairs = (
        _REGISTRY["q65_ngram_jaccard"]
        .fn(spark, sf_dir)
        .where(F.col("jaccard") >= 0.6)
        .select("doc_a", "doc_b")
    )
    sa = split.select(F.col("doc_id").alias("doc_a"), F.col("split").alias("sa"))
    sb = split.select(F.col("doc_id").alias("doc_b"), F.col("split").alias("sb"))
    straddle = (
        pairs.join(sa, "doc_a").join(sb, "doc_b").where(F.col("sa") != F.col("sb"))
    )
    n_pairs = pairs.agg(F.count(F.lit(1)).cast("bigint").alias("n_neardup_pairs"))
    n_str = straddle.agg(F.count(F.lit(1)).cast("bigint").alias("n_straddling"))
    n_tr = split.where(F.col("split") == "train").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_train")
    )
    n_ho = split.where(F.col("split") == "val").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_holdout")
    )
    return (
        n_pairs.crossJoin(n_str).crossJoin(n_tr).crossJoin(n_ho)
    )


def _q204_oracle() -> str:
    from variantcalling_spark.queries import _REGISTRY

    truth = _REGISTRY["q65_ngram_jaccard"].oracle
    return f"""
WITH corpus AS ({SQL_CORPUS}),
nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM corpus),
w AS (
  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS word FROM corpus
),
rare AS (
  SELECT word FROM w GROUP BY word HAVING COUNT(*) BETWEEN 2 AND 4
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM w a JOIN rare USING (word) JOIN w b USING (word)
  WHERE a.doc_id < b.doc_id
),
truth AS (
  SELECT doc_a, doc_b FROM ({truth}) t WHERE jaccard >= 0.6
),
hit AS (
  SELECT COUNT(*) AS h FROM truth t
  JOIN cand c ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b
)
SELECT (SELECT n FROM nn) AS n_docs,
       CAST((SELECT n FROM nn) * ((SELECT n FROM nn) - 1) / 2 AS BIGINT)
         AS n_possible_pairs,
       CAST((SELECT COUNT(*) FROM cand) AS BIGINT) AS n_candidate_pairs,
       ROUND(1.0 - (SELECT COUNT(*) FROM cand)
             / CAST((SELECT n FROM nn) * ((SELECT n FROM nn) - 1) / 2 AS DOUBLE),
             6) AS reduction_ratio,
       CAST((SELECT COUNT(*) FROM truth) AS BIGINT) AS n_true_pairs,
       CAST((SELECT h FROM hit) AS BIGINT) AS n_true_in_blocks,
       ROUND((SELECT h FROM hit)
             / CAST((SELECT COUNT(*) FROM truth) AS DOUBLE), 6)
         AS pairs_completeness
"""


@query("q204_blocking_quality", oracle=_q204_oracle())
def q204_blocking_quality(spark, sf_dir):
    """Entity-resolution blocking evaluation — the two numbers every
    record-linkage textbook grades a blocking scheme on: REDUCTION
    RATIO (what fraction of the n·(n−1)/2 possible pairs the blocks
    prune away) and PAIRS COMPLETENESS (what fraction of TRUE
    duplicate pairs survive into some block — blocking recall). The
    scheme under test is q180's rare-token banding; ground truth is
    q65's exact-Jaccard pairs. High RR with PC ≈ 1 is the certificate
    that a candidate generator is safe to deploy — this query makes
    that certificate a value-oracled row, the q201 pattern applied to
    blocking instead of splitting."""
    from variantcalling_spark.queries import _REGISTRY

    c = corpus(spark, sf_dir)
    nn = c.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    w = (
        c.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
        .distinct()
        # junction cut (campaign recipe): w feeds rare + both join
        # aliases — persist alone left the explode subtree re-inlined
        # per reference (q204 measured 101 Exchange in the static plan)
        .transform(lineage_cut)
    )
    rare = (
        w.groupBy("word")
        .agg(cnt("df"))
        .where((F.col("df") >= 2) & (F.col("df") <= 4))
        .select("word")
    )
    a = w.join(rare, "word").select("word", F.col("doc_id").alias("doc_a"))
    b = w.select("word", F.col("doc_id").alias("doc_b"))
    cand = (
        a.join(b, "word")
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
        .transform(lineage_cut)
    )
    truth = (
        _REGISTRY["q65_ngram_jaccard"]
        .fn(spark, sf_dir)
        .where(F.col("jaccard") >= 0.6)
        .select("doc_a", "doc_b")
        .transform(lineage_cut)
    )
    hit = truth.join(cand, ["doc_a", "doc_b"]).agg(
        F.count(F.lit(1)).cast("bigint").alias("h")
    )
    n_cand = cand.agg(F.count(F.lit(1)).cast("bigint").alias("nc"))
    n_true = truth.agg(F.count(F.lit(1)).cast("bigint").alias("nt"))
    poss = (F.col("n") * (F.col("n") - 1) / 2).cast("bigint")
    return (
        nn.crossJoin(F.broadcast(n_cand))
        .crossJoin(F.broadcast(n_true))
        .crossJoin(F.broadcast(hit))
        .select(
            F.col("n").alias("n_docs"),
            poss.alias("n_possible_pairs"),
            F.col("nc").alias("n_candidate_pairs"),
            F.round(1.0 - F.col("nc") / poss.cast("double"), 6).alias(
                "reduction_ratio"
            ),
            F.col("nt").alias("n_true_pairs"),
            F.col("h").alias("n_true_in_blocks"),
            F.round(F.col("h") / F.col("nt").cast("double"), 6).alias(
                "pairs_completeness"
            ),
        )
    )


@query(
    "q210_idf_weighted_containment",
    oracle=f"""
WITH corpus AS ({SQL_CORPUS}),
nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM corpus),
w AS (
  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS word FROM corpus
),
idf AS (
  SELECT word,
         CAST(ROUND(ln((SELECT n FROM nn) / CAST(COUNT(*) AS DOUBLE)), 9)
              AS DECIMAL(18,9)) AS idf
  FROM w GROUP BY word
),
dw AS (SELECT w.doc_id, w.word, idf.idf FROM w JOIN idf USING (word)),
mass AS (
  SELECT doc_id, CAST(SUM(idf) AS DECIMAL(28,9)) AS m FROM dw GROUP BY doc_id
),
rare AS (SELECT word, idf FROM idf
         WHERE idf >= (SELECT CAST(ROUND(ln(8.0), 9) AS DECIMAL(18,9)))),
shared AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(SUM(r.idf) AS DECIMAL(28,9)) AS sm
  FROM dw a JOIN rare r ON r.word = a.word
  JOIN dw b ON b.word = a.word AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT s.doc_a, s.doc_b,
       ROUND(CAST(s.sm AS DOUBLE), 6) AS shared_idf_mass,
       ROUND(CAST(s.sm AS DOUBLE) / CAST(LEAST(ma.m, mb.m) AS DOUBLE), 6)
         AS weighted_containment
FROM shared s
JOIN mass ma ON ma.doc_id = s.doc_a
JOIN mass mb ON mb.doc_id = s.doc_b
WHERE CAST(s.sm AS DOUBLE) * 2 >= CAST(LEAST(ma.m, mb.m) AS DOUBLE)
""",
)
def q210_idf_weighted_containment(spark, sf_dir):
    """IDF-weighted containment — q139's quote/excerpt detector made
    robust to boilerplate: shared COMMON words contribute almost
    nothing (idf ≈ 0), so a pair only fires when the smaller document's
    RARE-word mass is substantially contained in the other (threshold:
    half the smaller side's total idf mass). Per-word idf values are
    rounded-then-DECIMAL (the q168 reduce trick), so every mass sum is
    order-independent; candidate pairs band on rare words only
    (idf ≥ ln 8 ⇔ df ≤ n/8) — the discovery join never touches
    stopwords, which is both the precision fix and the scale fix."""
    c = corpus(spark, sf_dir)
    nn = c.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    w = (
        c.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
        .distinct()
        # junction cut (campaign recipe): w feeds rare + both join
        # aliases — persist alone left the explode subtree re-inlined
        # per reference (q204 measured 101 Exchange in the static plan)
        .transform(lineage_cut)
    )
    idf = (
        w.groupBy("word")
        .agg(cnt("df"))
        .crossJoin(F.broadcast(nn))
        .select(
            "word",
            F.round(F.log(F.col("n") / F.col("df").cast("double")), 9)
            .cast("decimal(18,9)")
            .alias("idf"),
        )
        .transform(managed_persist)
    )
    dw = w.join(F.broadcast(idf), "word").transform(managed_persist)
    mass = dw.groupBy("doc_id").agg(
        F.sum("idf").cast("decimal(28,9)").alias("m")
    )
    import math

    rare = idf.where(
        F.col("idf") >= F.lit(round(math.log(8.0), 9)).cast("decimal(18,9)")
    )
    a = dw.join(rare.select("word"), "word").select(
        "word", F.col("doc_id").alias("doc_a")
    )
    b = dw.select("word", F.col("doc_id").alias("doc_b"), "idf")
    shared = (
        a.join(b, "word")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.sum("idf").cast("decimal(28,9)").alias("sm"))
    )
    ma = mass.select(F.col("doc_id").alias("doc_a"), F.col("m").alias("ma"))
    mb = mass.select(F.col("doc_id").alias("doc_b"), F.col("m").alias("mb"))
    least_m = F.least(F.col("ma"), F.col("mb"))
    return (
        shared.join(F.broadcast(ma), "doc_a")
        .join(F.broadcast(mb), "doc_b")
        .where(F.col("sm").cast("double") * 2 >= least_m.cast("double"))
        .select(
            "doc_a",
            "doc_b",
            F.round(F.col("sm").cast("double"), 6).alias("shared_idf_mass"),
            F.round(
                F.col("sm").cast("double") / least_m.cast("double"), 6
            ).alias("weighted_containment"),
        )
    )


def _bbit_minhash_oracle_sql(num_hashes: int = 32, num_bands: int = 8, rows_per_band: int = 4) -> str:
    """q66's portable signature pipeline, then per candidate pair the
    full-width MinHash estimator vs the 1-bit (parity) estimator."""
    from variantcalling_spark.operators.dedup import (
        MERSENNE31,
        PORTABLE_HASH_SQL,
        _minhash_coeffs,
    )

    p = MERSENNE31
    phash = PORTABLE_HASH_SQL.format(col="shingle")
    coeffs = _minhash_coeffs(num_hashes)
    sig_cols = ",\n         ".join(
        f"MIN((CAST({a} AS BIGINT) * v + {b}) % {p}) AS h{i}"
        for i, (a, b) in enumerate(coeffs)
    )

    def bucket_expr(b):
        acc = f"h{b * rows_per_band}"
        for r in range(1, rows_per_band):
            acc = f"(({acc}) * 8191 + h{b * rows_per_band + r}) % {p}"
        return acc

    band_selects = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, {b} AS band, {bucket_expr(b)} AS bucket FROM sig"
        for b in range(num_bands)
    )
    full_eq = " + ".join(
        f"(CASE WHEN sa.h{i} = sb.h{i} THEN 1 ELSE 0 END)" for i in range(num_hashes)
    )
    par_eq = " + ".join(
        f"(CASE WHEN sa.h{i} % 2 = sb.h{i} % 2 THEN 1 ELSE 0 END)"
        for i in range(num_hashes)
    )
    return f"""
WITH corpus AS ({SQL_CORPUS}),
sh AS (
  SELECT DISTINCT doc_id, shingle
  FROM (
    SELECT doc_id,
           unnest([string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1] || ' ' || string_split(text, ' ')[i+2]
                   for i in generate_series(1, len(string_split(text, ' ')) - 2)]) AS shingle
    FROM corpus
  )
),
hv AS (SELECT doc_id, {phash} AS v FROM sh),
sig AS (SELECT doc_id, {sig_cols} FROM hv GROUP BY doc_id),
bands AS (
{band_selects}
),
cands AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
),
est AS (
  SELECT c.doc_a, c.doc_b,
         ({full_eq}) AS n_eq,
         ({par_eq}) AS n_par_eq
  FROM cands c
  JOIN sig sa ON sa.doc_id = c.doc_a
  JOIN sig sb ON sb.doc_id = c.doc_b
)
SELECT doc_a, doc_b,
       CAST(n_eq AS INT) AS n_eq,
       ROUND(n_eq / {num_hashes}.0, 6) AS minhash_est,
       ROUND(GREATEST(2.0 * n_par_eq / {num_hashes}.0 - 1.0, 0.0), 6) AS bbit_est,
       ROUND(ABS(n_eq / {num_hashes}.0
                 - GREATEST(2.0 * n_par_eq / {num_hashes}.0 - 1.0, 0.0)), 6) AS abs_gap
FROM est
"""


@query("q226_bbit_minhash", oracle=_bbit_minhash_oracle_sql())
def q226_bbit_minhash(spark, sf_dir):
    """B-BIT MINWISE HASHING (Li & König 2010) compression ledger: keep
    only the PARITY BIT of each of the 32 portable min-hashes (32 bits
    per doc instead of 32 x 64) and estimate Jaccard with the 1-bit
    collision correction J = 2c - 1 (c = matching-bit fraction; random
    bits collide half the time). For every q66-discovered candidate
    pair, report the full-width estimator, the 1-bit estimator, and
    their gap — the storage-vs-accuracy dial a 100 TB dedup index
    tunes (32x signature compression for a variance increase the
    ledger makes visible).

    Scale shape: identical to q66's banded equi-join discovery; the
    estimators are pure projections over the already-joined signature
    pairs. Integer bit arithmetic -> bit-exact cross-engine."""
    from variantcalling_spark.operators.dedup import (
        portable_band_candidates,
        portable_minhash_signatures,
    )

    c = corpus(spark, sf_dir)
    sh = shingles(c, n=3).transform(managed_persist)
    sigs = portable_minhash_signatures(sh, num_hashes=32).transform(managed_persist)
    # first-colliding-band discovery (same operator as q66, so the whole
    # candidate subtree is plan-identical and CacheManager-shared with
    # it): emits each pair once — no distinct() re-shuffle after the join
    cands = portable_band_candidates(sigs, num_bands=8, rows_per_band=4)
    sa = sigs.select(F.col("doc_id").alias("doc_a"), F.col("signature").alias("sig_a"))
    sb = sigs.select(F.col("doc_id").alias("doc_b"), F.col("signature").alias("sig_b"))
    est = (
        cands.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.expr(
                "aggregate(zip_with(sig_a, sig_b, (x, y) -> CASE WHEN x = y THEN 1 ELSE 0 END), 0, (a, b) -> a + b)"
            ).alias("n_eq"),
            F.expr(
                "aggregate(zip_with(sig_a, sig_b, (x, y) -> CASE WHEN x % 2 = y % 2 THEN 1 ELSE 0 END), 0, (a, b) -> a + b)"
            ).alias("n_par_eq"),
        )
    )
    k = 32.0
    bbit = F.greatest(2.0 * F.col("n_par_eq") / F.lit(k) - 1.0, F.lit(0.0))
    return est.select(
        "doc_a",
        "doc_b",
        F.col("n_eq").cast("int").alias("n_eq"),
        F.round(F.col("n_eq") / F.lit(k), 6).alias("minhash_est"),
        F.round(bbit, 6).alias("bbit_est"),
        F.round(F.abs(F.col("n_eq") / F.lit(k) - bbit), 6).alias("abs_gap"),
    )


_HLL_ALPHA_256 = "0.7182725932495458"  # 0.7213 / (1 + 1.079/256)


def _hll_oracle_sql() -> str:
    from variantcalling_spark.operators.dedup import PORTABLE_HASH_SQL

    phash = PORTABLE_HASH_SQL.format(col="word")
    return f"""
WITH words AS (
  SELECT DISTINCT unnest(string_split(text, ' ')) AS word
  FROM documents
),
w AS (SELECT word FROM words WHERE word <> ''),
hv AS (SELECT word, {phash} AS h FROM w),
cells AS (
  SELECT h % 256 AS bucket,
         CASE WHEN h // 256 = 0 THEN 24
              ELSE CAST(23 - FLOOR(LOG2(h // 256)) AS INT) END AS rho
  FROM hv
),
regs AS (
  SELECT sp.bucket, COALESCE(MAX(c.rho), 0) AS reg
  FROM (SELECT unnest(generate_series(0, 255)) AS bucket) sp
  LEFT JOIN cells c ON c.bucket = sp.bucket
  GROUP BY sp.bucket
),
s AS (
  SELECT CAST(SUM(CAST(POW(2.0, -reg) AS DECIMAL(38,30))) AS DOUBLE) AS z,
         CAST(SUM(CASE WHEN reg = 0 THEN 1 ELSE 0 END) AS BIGINT) AS v_zero
  FROM regs
),
ex AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_exact FROM w),
est AS (
  SELECT ex.n_exact, s.v_zero,
         CAST({_HLL_ALPHA_256} AS DOUBLE) * 256.0 * 256.0 / s.z AS e_raw
  FROM s CROSS JOIN ex
)
SELECT n_exact, v_zero,
       ROUND(e_raw, 4) AS raw_estimate,
       ROUND(CASE WHEN e_raw <= 2.5 * 256 AND v_zero > 0
                  THEN 256.0 * ln(256.0 / v_zero) ELSE e_raw END, 4)
         AS hll_estimate,
       ROUND(ABS(CASE WHEN e_raw <= 2.5 * 256 AND v_zero > 0
                      THEN 256.0 * ln(256.0 / v_zero) ELSE e_raw END - n_exact)
             / n_exact, 6) AS rel_error
FROM est
"""


@query("q227_hll_distinct", oracle=_hll_oracle_sql())
def q227_hll_distinct(spark, sf_dir):
    """HYPERLOGLOG cardinality sketch IN PURE SQL (Flajolet 2007,
    m = 256 registers, with the linear-counting small-range
    correction), graded against the exact distinct count — the
    cardinality member of the sketch toolbox (MinHash q66, SimHash
    q67, minimizers q157, Mash q207) and the estimator a 100 TB
    vocabulary/join-planning pass uses instead of COUNT(DISTINCT)
    (q154's documented swap, now executable). Built on the portable
    md5 hash so registers are BIT-IDENTICAL on both engines — unlike
    approx_count_distinct, whose HLL++ implementation (and thus
    estimate) is engine-private and un-oracle-able.

    Scale shape: one projection + one 256-group MAX aggregate
    (map-side combinable — registers merge by MAX, the same
    commutative-monoid shape as MinHash MIN aggs); the register table
    is 256 rows on any input size. Exactness: 2^-reg summed as exact
    DECIMAL(38,30) binary fractions (order-free); rho from
    FLOOR(LOG2(int)) is boundary-safe because log2 of an exact power
    of two is exact IEEE."""
    from variantcalling_spark.operators.dedup import portable_string_hash

    docs = load_table(spark, sf_dir, "documents")
    w = (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .where(F.col("word") != "")
        .distinct()
        .transform(managed_persist)
    )
    hv = w.select(portable_string_hash(F.col("word")).alias("h"))
    cells = hv.select(
        (F.col("h") % 256).alias("bucket"),
        F.when(F.expr("h DIV 256") == 0, F.lit(24))
        .otherwise((23 - F.floor(F.log2(F.expr("h DIV 256")))).cast("int"))
        .alias("rho"),
    )
    spine = spark.range(0, 256).select(F.col("id").alias("bucket"))
    regs = (
        spine.join(cells, "bucket", "left")
        .groupBy("bucket")
        .agg(F.coalesce(F.max("rho"), F.lit(0)).alias("reg"))
    )
    s = regs.agg(
        F.sum(F.pow(F.lit(2.0), -F.col("reg")).cast("decimal(38,30)"))
        .cast("double")
        .alias("z"),
        F.sum(F.when(F.col("reg") == 0, 1).otherwise(0)).cast("bigint").alias("v_zero"),
    )
    ex = w.agg(F.count(F.lit(1)).cast("bigint").alias("n_exact"))
    est = s.crossJoin(ex).withColumn(
        "e_raw", F.lit(float(_HLL_ALPHA_256)) * 256.0 * 256.0 / F.col("z")
    )
    corrected = F.when(
        (F.col("e_raw") <= 2.5 * 256) & (F.col("v_zero") > 0),
        256.0 * F.log(256.0 / F.col("v_zero")),
    ).otherwise(F.col("e_raw"))
    return est.select(
        "n_exact",
        "v_zero",
        F.round("e_raw", 4).alias("raw_estimate"),
        F.round(corrected, 4).alias("hll_estimate"),
        F.round(F.abs(corrected - F.col("n_exact")) / F.col("n_exact"), 6).alias(
            "rel_error"
        ),
    )


def _cms_oracle_sql(d: int = 4, w: int = 512) -> str:
    from variantcalling_spark.operators.dedup import (
        MERSENNE31,
        PORTABLE_HASH_SQL,
        _minhash_coeffs,
    )

    p = MERSENNE31
    phash = PORTABLE_HASH_SQL.format(col="word")
    coeffs = _minhash_coeffs(d)
    row_selects = "\n  UNION ALL\n".join(
        f"  SELECT {i} AS row_i, (CAST({a} AS BIGINT) * v + {b}) % {p} % {w} AS bucket, word FROM hv"
        for i, (a, b) in enumerate(coeffs)
    )
    cand_cells = "\n  UNION ALL\n".join(
        f"  SELECT word, c, {i} AS row_i, (CAST({a} AS BIGINT) * v + {b}) % {p} % {w} AS bucket FROM cand"
        for i, (a, b) in enumerate(coeffs)
    )
    return f"""
WITH toks AS (
  SELECT unnest(string_split(text, ' ')) AS word FROM documents
),
t AS (SELECT word FROM toks WHERE word <> ''),
hv AS (SELECT word, {phash} AS v FROM t),
cells AS (
{row_selects}
),
cms AS (SELECT row_i, bucket, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM cells GROUP BY row_i, bucket),
exact AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS c FROM t GROUP BY word),
cand0 AS (SELECT word, c FROM exact ORDER BY c DESC, word LIMIT 20),
cand AS (SELECT word, c, {phash} AS v FROM cand0),
cc AS (
{cand_cells}
),
est AS (
  SELECT cc.word, cc.c, MIN(cms.cnt) AS cms_count
  FROM cc JOIN cms ON cms.row_i = cc.row_i AND cms.bucket = cc.bucket
  GROUP BY cc.word, cc.c
)
SELECT word, c AS exact_count, cms_count,
       CAST(cms_count - c AS BIGINT) AS overestimate,
       ROUND((cms_count - c) / CAST(c AS DOUBLE), 6) AS rel_overestimate
FROM est
"""


@query("q228_cms_heavy_hitters", oracle=_cms_oracle_sql())
def q228_cms_heavy_hitters(spark, sf_dir):
    """COUNT-MIN SKETCH frequency estimation (Cormode-Muthukrishnan,
    d=4 rows x w=512 buckets) graded against exact counts for the
    top-20 heavy hitters — the frequency member of the sketch toolbox
    (cardinality: q227 HLL; similarity: q66/q67), and the structure a
    100 TB streaming token-frequency pass keeps in 4x512 integers of
    state instead of a vocabulary-sized hash map. CMS guarantees
    estimate >= truth; the ledger shows the one-sided collision error
    the (d, w) dial trades against memory.

    Scale shape: the sketch build is one map-side-combinable
    (row, bucket) COUNT over a 4-way projected explode — state is
    2048 cells on ANY corpus; the probe joins 20 candidates x 4 cells
    against it. All-integer arithmetic, engine-portable hashes ->
    bit-exact."""
    from variantcalling_spark.operators.dedup import (
        MERSENNE31,
        _minhash_coeffs,
        portable_string_hash,
    )

    d, w = 4, 512
    coeffs = _minhash_coeffs(d)
    docs = load_table(spark, sf_dir, "documents")
    t = (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .where(F.col("word") != "")
        .transform(managed_persist)
    )
    hv = t.select(portable_string_hash(F.col("word")).alias("v"))
    # all d sketch rows from ONE token scan: the former d-way union
    # re-read the cached tokens (and re-evaluated the md5 fold) once
    # per row — posexplode of the d bucket expressions emits the same
    # (row_i, bucket) cells in a single pass (same groupBy shuffle,
    # which map-side combines to <= d*w cells per partition)
    cells = hv.select(
        F.posexplode(
            F.array(
                *[
                    (
                        (F.lit(a).cast("bigint") * F.col("v") + F.lit(b))
                        % MERSENNE31
                        % w
                    )
                    for (a, b) in coeffs
                ]
            )
        ).alias("row_i", "bucket")
    )
    cms = cells.groupBy("row_i", "bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    exact = t.groupBy("word").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    cand0 = exact.orderBy(F.col("c").desc(), "word").limit(20)
    cand = cand0.select("word", "c", portable_string_hash(F.col("word")).alias("v"))
    cc = cand.select(
        "word",
        "c",
        F.posexplode(
            F.array(
                *[
                    (
                        (F.lit(a).cast("bigint") * F.col("v") + F.lit(b))
                        % MERSENNE31
                        % w
                    )
                    for (a, b) in coeffs
                ]
            )
        ).alias("row_i", "bucket"),
    )
    est = (
        cc.join(F.broadcast(cms.hint("broadcast")).alias("cms"), ["row_i", "bucket"])
        .groupBy("word", "c")
        .agg(F.min("cnt").alias("cms_count"))
    )
    return est.select(
        "word",
        F.col("c").alias("exact_count"),
        "cms_count",
        (F.col("cms_count") - F.col("c")).cast("bigint").alias("overestimate"),
        F.round(
            (F.col("cms_count") - F.col("c")) / F.col("c").cast("double"), 6
        ).alias("rel_overestimate"),
    )


def _hll_set_algebra_oracle_sql() -> str:
    from variantcalling_spark.operators.dedup import PORTABLE_HASH_SQL

    phash = PORTABLE_HASH_SQL.format(col="word")
    return f"""
WITH w AS (
  SELECT DISTINCT source, unnest(string_split(text, ' ')) AS word
  FROM documents
),
ww AS (SELECT source, word FROM w WHERE word <> ''),
hv AS (SELECT source, word, {phash} AS h FROM ww),
cells AS (
  SELECT source, h % 256 AS bucket,
         CASE WHEN h // 256 = 0 THEN 24
              ELSE CAST(23 - FLOOR(LOG2(h // 256)) AS INT) END AS rho
  FROM hv
),
-- per-source registers AND the union's registers from the SAME cells:
-- union-of-sets == MAX-merge of registers (the mergeability property)
regs_src AS (
  SELECT source, bucket, MAX(rho) AS reg FROM cells GROUP BY source, bucket
),
spine AS (
  SELECT s.source, b.bucket
  FROM (SELECT DISTINCT source FROM ww) s,
       (SELECT unnest(generate_series(0, 255)) AS bucket) b
),
full_src AS (
  SELECT sp.source, sp.bucket, COALESCE(r.reg, 0) AS reg
  FROM spine sp LEFT JOIN regs_src r
    ON r.source = sp.source AND r.bucket = sp.bucket
),
est_src AS (
  SELECT source,
         CAST({_HLL_ALPHA_256} AS DOUBLE) * 65536.0
           / CAST(SUM(CAST(POW(2.0, -reg) AS DECIMAL(38,30))) AS DOUBLE) AS e_raw,
         CAST(SUM(CASE WHEN reg = 0 THEN 1 ELSE 0 END) AS BIGINT) AS v0
  FROM full_src GROUP BY source
),
corr_src AS (
  SELECT source,
         CASE WHEN e_raw <= 640 AND v0 > 0 THEN 256.0 * ln(256.0 / v0)
              ELSE e_raw END AS est
  FROM est_src
),
regs_union AS (
  SELECT bucket, MAX(reg) AS reg FROM full_src GROUP BY bucket
),
est_union AS (
  SELECT CAST({_HLL_ALPHA_256} AS DOUBLE) * 65536.0
           / CAST(SUM(CAST(POW(2.0, -reg) AS DECIMAL(38,30))) AS DOUBLE) AS e_raw,
         CAST(SUM(CASE WHEN reg = 0 THEN 1 ELSE 0 END) AS BIGINT) AS v0
  FROM regs_union
),
corr_union AS (
  SELECT CASE WHEN e_raw <= 640 AND v0 > 0 THEN 256.0 * ln(256.0 / v0)
              ELSE e_raw END AS u_est
  FROM est_union
),
exact_u AS (SELECT CAST(COUNT(DISTINCT word) AS BIGINT) AS n_exact_union FROM ww),
sum_src AS (
  SELECT CAST(SUM(CAST(ROUND(est, 6) AS DECIMAL(24,6))) AS DOUBLE) AS sum_est,
         CAST(COUNT(*) AS BIGINT) AS n_sources
  FROM corr_src
)
SELECT s.n_sources,
       ROUND(s.sum_est, 4) AS sum_of_source_estimates,
       ROUND(u.u_est, 4) AS union_estimate,
       e.n_exact_union,
       ROUND(ABS(u.u_est - e.n_exact_union) / e.n_exact_union, 6)
         AS union_rel_error,
       ROUND(GREATEST(s.sum_est - u.u_est, 0.0), 4)
         AS est_cross_source_overlap
FROM sum_src s CROSS JOIN corr_union u CROSS JOIN exact_u e
"""


@query("q242_hll_set_algebra", oracle=_hll_set_algebra_oracle_sql())
def q242_hll_set_algebra(spark, sf_dir):
    """HLL SET ALGEBRA — the MERGEABILITY property that makes sketches
    the 100 TB cardinality tool: per-source vocabulary registers and
    the cross-corpus UNION cardinality computed by MAX-merging the
    SAME registers (never rescanning), plus the inclusion-exclusion
    overlap estimate sum(sources) - union that quantifies cross-source
    vocabulary sharing (the q160 source-overlap question answered in
    256 integers of state per source). One pass builds every source's
    sketch; union/overlap are register-table combines.

    Determinism: identical to q227 — portable hashes, exact DECIMAL
    binary-fraction sums, literal alpha; source estimates snap to
    DECIMAL before the order-free cross-source sum."""
    from variantcalling_spark.operators.dedup import portable_string_hash

    docs = load_table(spark, sf_dir, "documents")
    ww = (
        docs.select("source", F.explode(F.split("text", " ")).alias("word"))
        .where(F.col("word") != "")
        .distinct()
        .transform(managed_persist)
    )
    hv = ww.select("source", portable_string_hash(F.col("word")).alias("h"))
    cells = hv.select(
        "source",
        (F.col("h") % 256).alias("bucket"),
        F.when(F.expr("h DIV 256") == 0, F.lit(24))
        .otherwise((23 - F.floor(F.log2(F.expr("h DIV 256")))).cast("int"))
        .alias("rho"),
    )
    regs_src = cells.groupBy("source", "bucket").agg(F.max("rho").alias("reg"))
    spine = (
        ww.select("source")
        .distinct()
        .crossJoin(spark.range(0, 256).select(F.col("id").alias("bucket")))
    )
    full_src = (
        spine.join(regs_src, ["source", "bucket"], "left")
        .select("source", "bucket", F.coalesce("reg", F.lit(0)).alias("reg"))
        .transform(managed_persist)
    )
    alpha = float(_HLL_ALPHA_256)

    def estimate(regs, keys):
        est = regs.groupBy(*keys).agg(
            (
                F.lit(alpha)
                * 65536.0
                / F.sum(F.pow(F.lit(2.0), -F.col("reg")).cast("decimal(38,30)")).cast(
                    "double"
                )
            ).alias("e_raw"),
            F.sum(F.when(F.col("reg") == 0, 1).otherwise(0))
            .cast("bigint")
            .alias("v0"),
        ) if keys else regs.agg(
            (
                F.lit(alpha)
                * 65536.0
                / F.sum(F.pow(F.lit(2.0), -F.col("reg")).cast("decimal(38,30)")).cast(
                    "double"
                )
            ).alias("e_raw"),
            F.sum(F.when(F.col("reg") == 0, 1).otherwise(0))
            .cast("bigint")
            .alias("v0"),
        )
        return est.withColumn(
            "est",
            F.when(
                (F.col("e_raw") <= 640) & (F.col("v0") > 0),
                256.0 * F.log(256.0 / F.col("v0")),
            ).otherwise(F.col("e_raw")),
        )

    corr_src = estimate(full_src, ["source"])
    regs_union = full_src.groupBy("bucket").agg(F.max("reg").alias("reg"))
    corr_union = estimate(regs_union, []).select(F.col("est").alias("u_est"))
    exact_u = ww.agg(F.countDistinct("word").cast("bigint").alias("n_exact_union"))
    sum_src = corr_src.agg(
        F.sum(F.round("est", 6).cast("decimal(24,6)")).cast("double").alias("sum_est"),
        F.count(F.lit(1)).cast("bigint").alias("n_sources"),
    )
    return (
        sum_src.crossJoin(corr_union)
        .crossJoin(exact_u)
        .select(
            "n_sources",
            F.round("sum_est", 4).alias("sum_of_source_estimates"),
            F.round("u_est", 4).alias("union_estimate"),
            "n_exact_union",
            F.round(
                F.abs(F.col("u_est") - F.col("n_exact_union"))
                / F.col("n_exact_union"),
                6,
            ).alias("union_rel_error"),
            F.round(
                F.greatest(F.col("sum_est") - F.col("u_est"), F.lit(0.0)), 4
            ).alias("est_cross_source_overlap"),
        )
    )


def _bloom_oracle_sql(m: int = 4096, k: int = 3) -> str:
    from variantcalling_spark.operators.dedup import (
        MERSENNE31,
        PORTABLE_HASH_SQL,
        _minhash_coeffs,
    )

    p = MERSENNE31
    phash = PORTABLE_HASH_SQL.format(col="word")
    coeffs = _minhash_coeffs(k)
    set_bits = "\n  UNION ALL\n".join(
        f"  SELECT (CAST({a} AS BIGINT) * v + {b}) % {p} % {m} AS bit FROM hv"
        for a, b in coeffs
    )
    probe_bits = ", ".join(
        f"(CAST({a} AS BIGINT) * v + {b}) % {p} % {m}" for a, b in coeffs
    )
    return f"""
WITH members AS (
  SELECT DISTINCT word FROM (
    SELECT unnest(string_split(text, ' ')) AS word FROM documents
    WHERE doc_id % 2 = 0
  ) WHERE word <> ''
),
held AS (
  SELECT DISTINCT word FROM (
    SELECT unnest(string_split(text, ' ')) AS word FROM documents
    WHERE doc_id % 2 = 1
  ) WHERE word <> ''
),
probes0 AS (
  SELECT h.word FROM held h
  WHERE h.word NOT IN (SELECT word FROM members)
  UNION ALL
  SELECT 'xq_' || CAST(i AS VARCHAR) AS word
  FROM unnest(generate_series(1, 2000)) AS t(i)
),
hv AS (SELECT word, {phash} AS v FROM members),
bits AS (SELECT DISTINCT bit FROM (
{set_bits}
)),
pv AS (SELECT word, {phash} AS v FROM probes0),
pb AS (
  SELECT word, unnest([{probe_bits}]) AS bit FROM pv
),
hit AS (
  SELECT pb.word,
         CAST(COUNT(*) AS BIGINT) AS n_probe_bits,
         CAST(COUNT(b.bit) AS BIGINT) AS n_set
  FROM pb LEFT JOIN bits b ON b.bit = pb.bit
  GROUP BY pb.word
),
stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_probes,
         CAST(SUM(CASE WHEN n_set = n_probe_bits THEN 1 ELSE 0 END) AS BIGINT)
           AS n_false_positives
  FROM hit
),
fill AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_bits_set FROM bits),
nm AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_members FROM members)
SELECT nm.n_members, fill.n_bits_set,
       ROUND(fill.n_bits_set / {m}.0, 6) AS fill_ratio,
       stats.n_probes, stats.n_false_positives,
       ROUND(stats.n_false_positives / CAST(stats.n_probes AS DOUBLE), 6)
         AS measured_fpr,
       ROUND(POW(fill.n_bits_set / {m}.0, {k}), 6) AS predicted_fpr
FROM nm CROSS JOIN fill CROSS JOIN stats
"""


@query("q257_bloom_filter", oracle=_bloom_oracle_sql())
def q257_bloom_filter(spark, sf_dir):
    """BLOOM FILTER in pure SQL (m=4096 bits, k=3 portable hashes) —
    the membership member of the sketch toolbox (cardinality q227,
    frequency q228, similarity q66/q226): build the bit set from the
    even-doc vocabulary, probe with held-out non-members plus
    synthetic never-seen keys, and report the MEASURED false-positive
    rate against the fill-ratio prediction (1-e^(-kn/m))^k ~
    (fill)^k — the dial a 100 TB semi-join pushdown (the classic
    Bloom-join) tunes before shipping the filter to the scan side.

    Scale shape: the bit set is a DISTINCT over k row-projected
    hashes — at most m=4096 rows on ANY corpus (the bit-array as a
    relation); probes are a k-way explode + one equi-join against it.
    All-integer, engine-portable — bit-exact."""
    from variantcalling_spark.operators.dedup import (
        MERSENNE31,
        _minhash_coeffs,
        portable_string_hash,
    )

    m, k = 4096, 3
    coeffs = _minhash_coeffs(k)
    docs = load_table(spark, sf_dir, "documents")

    def vocab(parity):
        return (
            docs.where(F.col("doc_id") % 2 == parity)
            .select(F.explode(F.split("text", " ")).alias("word"))
            .where(F.col("word") != "")
            .distinct()
        )

    members = vocab(0).transform(managed_persist)
    held = vocab(1)
    probes0 = held.join(members, "word", "left_anti").unionByName(
        spark.range(1, 2001).select(
            F.concat(F.lit("xq_"), F.col("id").cast("string")).alias("word")
        )
    )
    hv = members.select(portable_string_hash(F.col("word")).alias("v"))
    bit_rows = [
        hv.select(
            ((F.lit(a).cast("bigint") * F.col("v") + F.lit(b)) % MERSENNE31 % m).alias(
                "bit"
            )
        )
        for a, b in coeffs
    ]
    bits = bit_rows[0]
    for r in bit_rows[1:]:
        bits = bits.unionByName(r)
    bits = bits.distinct().transform(managed_persist)
    pv = probes0.select("word", portable_string_hash(F.col("word")).alias("v"))
    pb = pv.select(
        "word",
        F.explode(
            F.array(
                *[
                    (F.lit(a).cast("bigint") * F.col("v") + F.lit(b))
                    % MERSENNE31
                    % m
                    for a, b in coeffs
                ]
            )
        ).alias("bit"),
    )
    hit = (
        pb.join(bits.withColumn("is_set", F.lit(1)), "bit", "left")
        .groupBy("word")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_probe_bits"),
            F.sum(F.coalesce(F.col("is_set"), F.lit(0)))
            .cast("bigint")
            .alias("n_set"),
        )
    )
    stats = hit.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_probes"),
        F.sum(F.when(F.col("n_set") == F.col("n_probe_bits"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_false_positives"),
    )
    fill = bits.agg(F.count(F.lit(1)).cast("bigint").alias("n_bits_set"))
    nm = members.agg(F.count(F.lit(1)).cast("bigint").alias("n_members"))
    return (
        nm.crossJoin(fill)
        .crossJoin(stats)
        .select(
            "n_members",
            "n_bits_set",
            F.round(F.col("n_bits_set") / float(m), 6).alias("fill_ratio"),
            "n_probes",
            "n_false_positives",
            F.round(
                F.col("n_false_positives") / F.col("n_probes").cast("double"), 6
            ).alias("measured_fpr"),
            F.round(F.pow(F.col("n_bits_set") / float(m), k), 6).alias(
                "predicted_fpr"
            ),
        )
    )


def _kmv_oracle_sql() -> str:
    from variantcalling_spark.operators.dedup import PORTABLE_HASH_SQL

    ph = PORTABLE_HASH_SQL.format(col="CAST(l_partkey AS VARCHAR)")
    return f"""
WITH hv AS (
  SELECT DISTINCT l_returnflag AS flag, {ph} AS h
  FROM lineitem
),
ranked AS (
  SELECT flag, h,
         ROW_NUMBER() OVER (PARTITION BY flag ORDER BY h) AS rnk
  FROM hv
),
per_flag AS (
  SELECT flag,
         CAST(COUNT(*) AS BIGINT) AS n_exact,
         CAST(MAX(CASE WHEN rnk = 64 THEN h END) AS BIGINT) AS kth_hash
  FROM ranked GROUP BY flag
),
merged AS (
  SELECT h, ROW_NUMBER() OVER (ORDER BY h) AS rnk
  FROM (SELECT DISTINCT h FROM hv)
),
global_row AS (
  SELECT '__all__' AS flag,
         (SELECT CAST(COUNT(DISTINCT h) AS BIGINT) FROM hv) AS n_exact,
         CAST(MAX(CASE WHEN rnk = 64 THEN h END) AS BIGINT) AS kth_hash
  FROM merged
),
u AS (SELECT * FROM per_flag UNION ALL SELECT * FROM global_row)
SELECT flag, n_exact, kth_hash,
       ROUND(63.0 * 2147483647.0 / kth_hash, 4) AS kmv_estimate,
       ROUND(ABS(63.0 * 2147483647.0 / kth_hash - n_exact) / n_exact, 6)
         AS rel_error
FROM u
"""


@query("q263_kmv_distinct", oracle=_kmv_oracle_sql())
def q263_kmv_distinct(spark, sf_dir):
    """KMV (k-minimum-values / bottom-k theta) DISTINCT-COUNT SKETCH —
    the third mergeable cardinality sketch beside HLL (q227/q242) and
    b-bit minhash (q226): keep the k=64 smallest hash values; estimate
    D = (k-1) * M / h_k. The '__all__' row is computed by MERGING the
    per-group bottom-k sets (union -> re-take bottom k), while the
    oracle computes it directly from the full hash set — their
    equality is the sketch's merge property made executable (the q242
    rule applied to theta sketches).

    Scale discipline: one distinct-project of (group, key) then a
    bottom-k per group — row_number over the per-group hash order, kept
    rows <= k per group, so the merge input is |groups| * k rows
    regardless of corpus size. The estimate arithmetic is a single
    division off an exact BIGINT hash. At 100 TB the sketch state per
    group is 64 bigints — the shape that lets a 1000-executor scan
    maintain per-partition bottom-k and merge on combine."""
    from pyspark.sql import Window as W

    from variantcalling_spark.operators.dedup import MERSENNE31, portable_string_hash

    li = load_table(spark, sf_dir, "lineitem")
    hv = (
        li.select(
            F.col("l_returnflag").alias("flag"),
            portable_string_hash(F.col("l_partkey").cast("string")).alias("h"),
        )
        .distinct()
        .transform(managed_persist)
    )
    K = 64
    ranked = hv.withColumn(
        "rnk", F.row_number().over(W.partitionBy("flag").orderBy("h"))
    )
    kset = ranked.where(F.col("rnk") <= K).transform(managed_persist)
    per_flag = ranked.groupBy("flag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_exact"),
        F.max(F.when(F.col("rnk") == K, F.col("h"))).cast("bigint").alias("kth_hash"),
    )
    # merge path: union of per-group bottom-k sets -> re-rank -> bottom k
    merged = (
        kset.select("h")
        .distinct()
        .withColumn("rnk", F.row_number().over(W.orderBy("h")))
    )
    n_exact_all = hv.select("h").distinct().agg(
        F.count(F.lit(1)).cast("bigint").alias("n_exact")
    )
    global_row = (
        merged.agg(
            F.max(F.when(F.col("rnk") == K, F.col("h")))
            .cast("bigint")
            .alias("kth_hash")
        )
        .crossJoin(F.broadcast(n_exact_all))
        .select(F.lit("__all__").alias("flag"), "n_exact", "kth_hash")
    )
    u = per_flag.unionByName(global_row)
    est = (K - 1) * F.lit(float(MERSENNE31)) / F.col("kth_hash")
    return u.select(
        "flag",
        "n_exact",
        "kth_hash",
        F.round(est, 4).alias("kmv_estimate"),
        F.round(F.abs(est - F.col("n_exact")) / F.col("n_exact"), 6).alias(
            "rel_error"
        ),
    )


def _kfold_oracle_sql() -> str:
    from variantcalling_spark.operators.dedup import PORTABLE_HASH_SQL

    ph = PORTABLE_HASH_SQL.format(col="CAST(doc_id AS VARCHAR)")
    return f"""
WITH assigned AS (
  SELECT lang, {ph} % 5 AS fold FROM documents
),
cells AS (
  SELECT lang, fold, CAST(COUNT(*) AS BIGINT) AS n
  FROM assigned GROUP BY lang, fold
),
per_lang AS (
  SELECT lang,
         CAST(SUM(n) AS BIGINT) AS n_docs,
         CAST(COUNT(*) AS BIGINT) AS n_folds_hit,
         CAST(MAX(n) AS BIGINT) AS max_fold,
         CAST(MIN(n) AS BIGINT) AS min_fold
  FROM cells GROUP BY lang
)
SELECT lang, n_docs, n_folds_hit, max_fold, min_fold,
       ROUND(CAST(max_fold AS DOUBLE) / min_fold, 6) AS imbalance,
       ROUND(CAST(max_fold AS DOUBLE) * 5 / n_docs, 6) AS max_share_x5
FROM per_lang
"""


@query("q289_kfold_balance_audit", oracle=_kfold_oracle_sql())
def q289_kfold_balance_audit(spark, sf_dir):
    """DETERMINISTIC K-FOLD ASSIGNMENT + BALANCE AUDIT — the
    cross-validation prep step beside the leakage-safe split (q137)
    and the split-integrity audit (q201): folds are a pure function
    of the stable id (portable hash mod k=5 — reproducible across
    engines and runs, no RNG), and the audit reports per-stratum fold
    balance (max/min fold size, share) so a skewed stratum is caught
    BEFORE training 5 models on it.

    Scale discipline: assignment is a map-side hash projection; the
    audit is one (stratum, fold) count then a k-row-per-stratum
    aggregate — nothing shuffles but the tiny cell table. The same
    hash feeds the incremental path: new documents land in stable
    folds without touching old ones."""
    from variantcalling_spark.operators.dedup import portable_string_hash

    docs = load_table(spark, sf_dir, "documents")
    assigned = docs.select(
        "lang", (portable_string_hash(F.col("doc_id").cast("string")) % 5).alias("fold")
    )
    cells = assigned.groupBy("lang", "fold").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    per_lang = cells.groupBy("lang").agg(
        F.sum("n").cast("bigint").alias("n_docs"),
        F.count(F.lit(1)).cast("bigint").alias("n_folds_hit"),
        F.max("n").cast("bigint").alias("max_fold"),
        F.min("n").cast("bigint").alias("min_fold"),
    )
    return per_lang.select(
        "lang",
        "n_docs",
        "n_folds_hit",
        "max_fold",
        "min_fold",
        F.round(F.col("max_fold").cast("double") / F.col("min_fold"), 6).alias(
            "imbalance"
        ),
        F.round(F.col("max_fold").cast("double") * 5 / F.col("n_docs"), 6).alias(
            "max_share_x5"
        ),
    )


_KMV_SRC = ("src0", "src1", "src2", "src3", "src4")


def _kmv_overlap_oracle_sql() -> str:
    from variantcalling_spark.operators.dedup import PORTABLE_HASH_SQL

    ph = PORTABLE_HASH_SQL.format(col="s")
    srcs = ", ".join(f"'{s}'" for s in _KMV_SRC)
    return f"""
WITH ws AS MATERIALIZED (
  SELECT source, string_split(text, ' ') AS w FROM documents
  WHERE source IN ({srcs})
),
sh AS MATERIALIZED (
  SELECT DISTINCT source,
         unnest([w[i] || ' ' || w[i + 1] || ' ' || w[i + 2]
                 for i in generate_series(1, len(w) - 2)]) AS s
  FROM ws WHERE len(w) >= 3
),
hv AS MATERIALIZED (
  SELECT DISTINCT source, {ph} AS v FROM sh
),
sk AS MATERIALIZED (
  SELECT source, v FROM (
    SELECT source, v, ROW_NUMBER() OVER (PARTITION BY source ORDER BY v) AS rn
    FROM hv
  ) WHERE rn <= 64
),
na AS MATERIALIZED (
  SELECT source, CAST(COUNT(DISTINCT s) AS BIGINT) AS n FROM sh GROUP BY source
),
prs AS MATERIALIZED (
  SELECT a.source AS sa, b.source AS sb
  FROM na a JOIN na b ON a.source < b.source
),
uv AS MATERIALIZED (
  SELECT sa, sb, v FROM (
    SELECT p.sa, p.sb, s.v FROM prs p JOIN sk s ON s.source = p.sa
    UNION
    SELECT p.sa, p.sb, s.v FROM prs p JOIN sk s ON s.source = p.sb
  )
),
uk AS MATERIALIZED (
  SELECT sa, sb, v FROM (
    SELECT sa, sb, v, ROW_NUMBER() OVER (PARTITION BY sa, sb ORDER BY v) AS rn
    FROM uv
  ) WHERE rn <= 64
),
ukth AS MATERIALIZED (
  SELECT sa, sb, CAST(MAX(v) AS BIGINT) AS vk FROM uk GROUP BY sa, sb
),
inboth AS MATERIALIZED (
  SELECT u.sa, u.sb, CAST(COUNT(*) AS BIGINT) AS nb
  FROM uk u
  JOIN sk x ON x.source = u.sa AND x.v = u.v
  JOIN sk y ON y.source = u.sb AND y.v = u.v
  GROUP BY u.sa, u.sb
),
ex AS MATERIALIZED (
  SELECT a.source AS sa, b.source AS sb, CAST(COUNT(*) AS BIGINT) AS inter
  FROM sh a JOIN sh b ON b.s = a.s AND a.source < b.source
  GROUP BY a.source, b.source
)
SELECT p.sa AS src_a, p.sb AS src_b,
       CAST(xa.n + xb.n - COALESCE(e.inter, 0) AS BIGINT) AS exact_union,
       ROUND(63.0 * 2147483647.0 / k.vk, 4) AS est_union,
       ROUND(COALESCE(e.inter, 0)
             / CAST(xa.n + xb.n - COALESCE(e.inter, 0) AS DOUBLE), 6)
         AS exact_jaccard,
       ROUND(COALESCE(b.nb, 0) / 64.0, 6) AS est_jaccard,
       ROUND(ABS(COALESCE(b.nb, 0) / 64.0
                 - COALESCE(e.inter, 0)
                   / CAST(xa.n + xb.n - COALESCE(e.inter, 0) AS DOUBLE)), 6)
         AS jaccard_abs_err
FROM prs p
JOIN ukth k ON k.sa = p.sa AND k.sb = p.sb
LEFT JOIN inboth b ON b.sa = p.sa AND b.sb = p.sb
LEFT JOIN ex e ON e.sa = p.sa AND e.sb = p.sb
JOIN na xa ON xa.source = p.sa
JOIN na xb ON xb.source = p.sb
"""


@query("q303_kmv_source_overlap", oracle=_kmv_overlap_oracle_sql())
def q303_kmv_source_overlap(spark, sf_dir):
    """KMV INTERSECTION SKETCH for pairwise source overlap (the theta-
    sketch set-algebra rung above q263's cardinality-only KMV — this is
    the use-case ROADMAP said the intersection sketch needed: q160
    computes exact pairwise vocab overlap with a full self-join, which
    at web scale is the expensive way to ask "which shards duplicate
    each other"): per-source bottom-64 sketches over trigram shingles,
    union estimate (k-1)M/h_k per pair, Jaccard estimate rho = |union
    sketch members present in both sketches|/k, both graded against
    the exact answer.

    Scale discipline: after one shingle scan, ALL pair arithmetic runs
    on |sources| x 64 sketch rows — pairs cost sketch-sized joins, not
    corpus-sized ones (the exact arms here are the audit, not the
    production path). Hash values are the engine-portable md5 fold;
    every estimate is integer arithmetic plus one division."""
    from pyspark.sql import Window as W

    from variantcalling_spark.operators.dedup import (
        MERSENNE31,
        portable_string_hash,
        shingles,
    )

    docs = load_table(spark, sf_dir, "documents").where(
        F.col("source").isin(*_KMV_SRC)
    )
    sh = (
        shingles(docs)
        .join(docs.select("doc_id", "source"), "doc_id")
        .select("source", F.col("shingle").alias("s"))
        .distinct()
        # junction cut: sh feeds hv, na, and both aliases of the exact
        # arm (5 references re-inlined the shingle subtree — q303 was
        # the registry's largest static plan at 108 Exchange)
        .transform(lineage_cut)
    )
    hv = sh.select("source", portable_string_hash(F.col("s")).alias("v")).distinct()
    sk = (
        hv.withColumn("rn", F.row_number().over(W.partitionBy("source").orderBy("v")))
        .where(F.col("rn") <= 64)
        .select("source", "v")
        .transform(lineage_cut)
    )
    na = sh.groupBy("source").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    prs = (
        na.select(F.col("source").alias("sa"))
        .join(na.select(F.col("source").alias("sb")), F.col("sa") < F.col("sb"))
        .transform(lineage_cut)
    )
    uv = (
        prs.join(sk.select(F.col("source").alias("sa"), "v"), "sa")
        .select("sa", "sb", "v")
        .unionByName(
            prs.join(sk.select(F.col("source").alias("sb"), "v"), "sb").select(
                "sa", "sb", "v"
            )
        )
        .distinct()
    )
    uk = (
        uv.withColumn(
            "rn", F.row_number().over(W.partitionBy("sa", "sb").orderBy("v"))
        )
        .where(F.col("rn") <= 64)
        .select("sa", "sb", "v")
        .transform(lineage_cut)
    )
    ukth = uk.groupBy("sa", "sb").agg(F.max("v").cast("bigint").alias("vk"))
    both = (
        uk.join(
            sk.select(F.col("source").alias("sa"), "v"), ["sa", "v"]
        )
        .join(sk.select(F.col("source").alias("sb"), "v"), ["sb", "v"])
        .groupBy("sa", "sb")
        .agg(F.count(F.lit(1)).cast("bigint").alias("nb"))
    )
    ex = (
        sh.select(F.col("source").alias("sa"), "s")
        .join(sh.select(F.col("source").alias("sb"), "s"), "s")
        .where(F.col("sa") < F.col("sb"))
        .groupBy("sa", "sb")
        .agg(F.count(F.lit(1)).cast("bigint").alias("inter"))
    )
    est_union = F.lit(63.0) * F.lit(float(MERSENNE31)) / F.col("vk")
    inter = F.coalesce(F.col("inter"), F.lit(0))
    exact_union = (F.col("n_a") + F.col("n_b") - inter).cast("bigint")
    est_j = F.coalesce(F.col("nb"), F.lit(0)) / F.lit(64.0)
    exact_j = inter / exact_union.cast("double")
    return (
        prs.join(ukth, ["sa", "sb"])
        .join(both, ["sa", "sb"], "left")
        .join(ex, ["sa", "sb"], "left")
        .join(F.broadcast(na.select(F.col("source").alias("sa"), F.col("n").alias("n_a"))), "sa")
        .join(F.broadcast(na.select(F.col("source").alias("sb"), F.col("n").alias("n_b"))), "sb")
        .select(
            F.col("sa").alias("src_a"),
            F.col("sb").alias("src_b"),
            exact_union.alias("exact_union"),
            F.round(est_union, 4).alias("est_union"),
            F.round(exact_j, 6).alias("exact_jaccard"),
            F.round(est_j, 6).alias("est_jaccard"),
            F.round(F.abs(est_j - exact_j), 6).alias("jaccard_abs_err"),
        )
    )


_LSH_CONFIGS = ((32, 1), (16, 2), (8, 4), (4, 8), (2, 16), (1, 32))


def _lsh_planner_oracle_sql() -> str:
    cfg_rows = ", ".join(f"({b}, {r})" for b, r in _LSH_CONFIGS)
    return f"""
WITH tok AS MATERIALIZED (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
),
dw AS MATERIALIZED (SELECT DISTINCT doc_id, w FROM tok),
nd AS MATERIALIZED (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM dw GROUP BY doc_id
),
inter AS MATERIALIZED (
  SELECT a.doc_id AS ia, b.doc_id AS ib, CAST(COUNT(*) AS BIGINT) AS i
  FROM dw a JOIN dw b ON b.w = a.w AND b.doc_id = a.doc_id + 1
  WHERE a.doc_id % 2 = 0
  GROUP BY a.doc_id, b.doc_id
),
pj AS MATERIALIZED (
  SELECT na.doc_id AS ia,
         ROUND(COALESCE(i.i, 0)
               / CAST(na.n + nb.n - COALESCE(i.i, 0) AS DOUBLE), 8) AS j
  FROM nd na
  JOIN nd nb ON nb.doc_id = na.doc_id + 1
  LEFT JOIN inter i ON i.ia = na.doc_id
  WHERE na.doc_id % 2 = 0
),
bg AS MATERIALIZED (
  SELECT ROUND(CAST(SUM(CAST(j AS DECIMAL(12,8))) AS DOUBLE) / COUNT(*), 8)
    AS j_bg, CAST(COUNT(*) AS BIGINT) AS n_pairs
  FROM pj
),
npairs AS MATERIALIZED (
  SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents
),
cfg AS (SELECT * FROM (VALUES {cfg_rows}) AS t(b, r))
SELECT CAST(c.b AS INT) AS bands, CAST(c.r AS INT) AS rows_per_band,
       ROUND(exp(ln(1.0 / c.b) / c.r), 4) AS threshold_star,
       ROUND(1 - exp(c.b * ln(1 - exp(c.r * ln((SELECT j_bg FROM bg))))), 8)
         AS p_collide_background,
       ROUND(1 - exp(c.b * ln(1 - exp(c.r * ln(CAST(0.8 AS DOUBLE))))), 8)
         AS p_collide_at_08,
       ROUND(((SELECT n FROM npairs) * ((SELECT n FROM npairs) - 1) / 2.0)
             * (1 - exp(c.b * ln(1 - exp(c.r * ln((SELECT j_bg FROM bg)))))), 2)
         AS expected_background_candidates
FROM cfg c
"""


@query("q322_lsh_planner", oracle=_lsh_planner_oracle_sql())
def q322_lsh_planner(spark, sf_dir):
    """LSH PARAMETER PLANNER — the S-curve table every MinHash-LSH
    deployment consults before picking (bands, rows): for each way of
    spending the 32-hash signature budget, the threshold t* =
    (1/b)^(1/r), the collision probability 1-(1-j^r)^b at a TARGET
    similarity (0.8) and at the MEASURED background similarity of this
    corpus (mean Jaccard of consecutive-id pairs), and the expected
    background candidate load at corpus scale — making the
    precision/recall dial of q66/q122 an executable table instead of
    folklore.

    Scale discipline: the background estimate uses consecutive-id
    pairs only (one equi-join on id+1, linear); the planner itself is
    arithmetic over a 6-row config spine. Powers are exp/ln
    compositions (the shared-libm pin), probabilities snapped at 8."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
    dw = tok.distinct().transform(managed_persist)
    nd = dw.groupBy("doc_id").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    inter = (
        dw.where(F.col("doc_id") % 2 == 0)
        .join(
            dw.select((F.col("doc_id") - 1).alias("doc_id"), F.col("w")),
            ["doc_id", "w"],
        )
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("i"))
    )
    pj = (
        nd.where(F.col("doc_id") % 2 == 0)
        .select(F.col("doc_id"), F.col("n").alias("na"))
        .join(
            nd.select((F.col("doc_id") - 1).alias("doc_id"), F.col("n").alias("nb")),
            "doc_id",
        )
        .join(inter, "doc_id", "left")
        .select(
            F.round(
                F.coalesce(F.col("i"), F.lit(0))
                / (
                    F.col("na") + F.col("nb") - F.coalesce(F.col("i"), F.lit(0))
                ).cast("double"),
                8,
            ).alias("j")
        )
    )
    bg = pj.agg(
        F.round(
            F.sum(F.col("j").cast("decimal(12,8)")).cast("double")
            / F.count(F.lit(1)),
            8,
        ).alias("j_bg")
    )
    npairs = docs.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    cfg = spark.createDataFrame(
        [(b, r) for b, r in _LSH_CONFIGS], "b int, r int"
    )
    jb = F.col("j_bg")
    b_, r_ = F.col("b"), F.col("r")
    p_bg = 1 - F.exp(b_ * F.log(1 - F.exp(r_ * F.log(jb))))
    p_08 = 1 - F.exp(b_ * F.log(1 - F.exp(r_ * F.log(F.lit(0.8).cast("double")))))
    return (
        cfg.crossJoin(F.broadcast(bg))
        .crossJoin(F.broadcast(npairs))
        .select(
            F.col("b").cast("int").alias("bands"),
            F.col("r").cast("int").alias("rows_per_band"),
            F.round(F.exp(F.log(1.0 / b_) / r_), 4).alias("threshold_star"),
            F.round(p_bg, 8).alias("p_collide_background"),
            F.round(p_08, 8).alias("p_collide_at_08"),
            F.round(
                (F.col("n") * (F.col("n") - 1) / 2.0) * p_bg, 2
            ).alias("expected_background_candidates"),
        )
    )


def _lsh_eval_oracle_sql(
    num_hashes: int = 32, num_bands: int = 8, rows_per_band: int = 4
) -> str:
    from variantcalling_spark.operators.dedup import (
        MERSENNE31,
        PORTABLE_HASH_SQL,
        _minhash_coeffs,
    )

    p = MERSENNE31
    phash = PORTABLE_HASH_SQL.format(col="shingle")
    coeffs = _minhash_coeffs(num_hashes)
    sig_cols = ",\n         ".join(
        f"MIN((CAST({a} AS BIGINT) * v + {b}) % {p}) AS h{i}"
        for i, (a, b) in enumerate(coeffs)
    )

    def bucket_expr(b):
        acc = f"h{b * rows_per_band}"
        for r in range(1, rows_per_band):
            acc = f"(({acc}) * 8191 + h{b * rows_per_band + r}) % {p}"
        return acc

    band_selects = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, {b} AS band, {bucket_expr(b)} AS bucket FROM sig"
        for b in range(num_bands)
    )
    return f"""
WITH corpus AS ({SQL_CORPUS}),
sh AS MATERIALIZED (
  SELECT DISTINCT doc_id, shingle
  FROM (
    SELECT doc_id,
           unnest([string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1] || ' ' || string_split(text, ' ')[i+2]
                   for i in generate_series(1, len(string_split(text, ' ')) - 2)]) AS shingle
    FROM corpus
  )
),
sizes AS MATERIALIZED (
  SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id
),
truth AS MATERIALIZED (
  SELECT doc_a, doc_b FROM (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
  ) s
  JOIN sizes sa ON sa.doc_id = s.doc_a
  JOIN sizes sb ON sb.doc_id = s.doc_b
  WHERE s.n_shared / CAST(sa.n_sh + sb.n_sh - s.n_shared AS DOUBLE) >= 0.6
),
hv AS MATERIALIZED (SELECT doc_id, {phash} AS v FROM sh),
sig AS MATERIALIZED (
  SELECT doc_id,
         {sig_cols}
  FROM hv GROUP BY doc_id
),
bands AS MATERIALIZED (
{band_selects}
),
cands AS MATERIALIZED (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
),
counts AS (
  SELECT
    (SELECT CAST(COUNT(*) AS BIGINT) FROM truth) AS n_truth,
    (SELECT CAST(COUNT(*) AS BIGINT) FROM cands) AS n_candidates,
    (SELECT CAST(COUNT(*) AS BIGINT)
     FROM truth t JOIN cands c
       ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b) AS n_hit
)
SELECT n_truth, n_candidates, n_hit,
       ROUND(n_hit / CAST(n_truth AS DOUBLE), 6) AS recall,
       ROUND(n_hit / CAST(n_candidates AS DOUBLE), 6) AS candidate_precision,
       ROUND(n_candidates / CAST(n_truth AS DOUBLE), 4) AS verify_workload_ratio
FROM counts
"""


@query("q356_lsh_dedup_eval", oracle=_lsh_eval_oracle_sql())
def q356_lsh_dedup_eval(spark, sf_dir):
    """DEDUP DISCOVERY QUALITY HARNESS — the q217 recall grade applied
    to the TEXT dedup path: banded MinHash candidates (q66's discovery
    stage, BEFORE verification) measured against the exact Jaccard >=
    0.6 ground truth (q65's lossless PPJoin answer): recall (did
    banding miss true near-dups?), candidate precision (how much
    verify work is wasted?), and the verify-workload ratio the q322
    planner predicts analytically.

    Scale discipline: the truth arm is the audit (exact pairs,
    prefix-filtered at scale); the candidate arm is the production
    banded equi-join; the comparison joins two pair-list-sized
    relations. Both arms share one shingle table and the portable hash
    family, so the harness itself is value-oracled end to end."""
    from variantcalling_spark.operators.dedup import (
        portable_band_candidates,
        portable_minhash_signatures,
        shingles,
    )
    from variantcalling_spark.queries import _REGISTRY

    c = corpus(spark, sf_dir)
    sh = shingles(c, n=3).transform(managed_persist)
    # exact truth via the registered q65 path (lossless PPJoin)
    truth = (
        _REGISTRY["q65_ngram_jaccard"]
        .fn(spark, sf_dir)
        .select("doc_a", "doc_b")
        .transform(managed_persist)
    )
    sigs = portable_minhash_signatures(sh, num_hashes=32)
    cands = portable_band_candidates(sigs, num_bands=8, rows_per_band=4).select(
        "doc_a", "doc_b"
    ).distinct().transform(managed_persist)
    n_truth = truth.agg(F.count(F.lit(1)).cast("bigint").alias("n_truth"))
    n_cands = cands.agg(F.count(F.lit(1)).cast("bigint").alias("n_candidates"))
    n_hit = truth.join(cands, ["doc_a", "doc_b"]).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_hit")
    )
    return (
        n_truth.crossJoin(F.broadcast(n_cands))
        .crossJoin(F.broadcast(n_hit))
        .select(
            "n_truth",
            "n_candidates",
            "n_hit",
            F.round(F.col("n_hit") / F.col("n_truth").cast("double"), 6).alias(
                "recall"
            ),
            F.round(
                F.col("n_hit") / F.col("n_candidates").cast("double"), 6
            ).alias("candidate_precision"),
            F.round(
                F.col("n_candidates") / F.col("n_truth").cast("double"), 4
            ).alias("verify_workload_ratio"),
        )
    )


_DEDUP_SAT_FRACS = (25, 50, 75, 100)


def _dedup_saturation_oracle_sql() -> str:
    from variantcalling_spark.operators.dedup import PORTABLE_HASH_SQL

    keep = PORTABLE_HASH_SQL.format(col="CAST(doc_id AS VARCHAR)")
    fracs = ", ".join(f"({f})" for f in _DEDUP_SAT_FRACS)
    return f"""
WITH corpus AS ({SQL_CORPUS}),
keyed AS MATERIALIZED (
  SELECT doc_id, md5(text) AS fp, ({keep}) % 100 AS coin FROM corpus
),
fr AS (SELECT * FROM (VALUES {fracs}) AS t(f)),
kept AS (
  SELECT fr.f, k.fp FROM keyed k JOIN fr ON k.coin < fr.f
)
SELECT CAST(f AS INT) AS pct_docs,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_unique,
       CAST(COUNT(*) - COUNT(DISTINCT fp) AS BIGINT) AS n_duplicates,
       ROUND((COUNT(*) - COUNT(DISTINCT fp)) / CAST(COUNT(*) AS DOUBLE), 6)
         AS dup_rate
FROM kept GROUP BY f
"""


@query("q362_dedup_saturation", oracle=_dedup_saturation_oracle_sql())
def q362_dedup_saturation(spark, sf_dir):
    """DEDUPLICATION SATURATION CURVE (Lee et al.'s empirical law made
    a measured table: duplicate RATE grows with corpus size, so the
    dedup budget for the full crawl cannot be extrapolated linearly
    from a pilot shard — this query is the evidence): exact-duplicate
    rate at hash-deterministic 25/50/75/100% document subsamples over
    the augmented dedup corpus.

    Scale discipline: the q326/q351 titration pattern on the exact-dup
    fingerprint — one md5 projection, a 4-row fraction spine fanning
    out the FILTER, one distinct-count aggregate per fraction;
    deterministic subsamples, identical on every engine and retry."""
    from variantcalling_spark.operators.dedup import portable_string_hash

    c = corpus(spark, sf_dir)
    keyed = c.select(
        F.md5("text").alias("fp"),
        (portable_string_hash(F.col("doc_id").cast("string")) % 100).alias("coin"),
    ).transform(managed_persist)
    fr = spark.createDataFrame([(f,) for f in _DEDUP_SAT_FRACS], "f int")
    kept = keyed.crossJoin(F.broadcast(fr)).where(F.col("coin") < F.col("f"))
    return kept.groupBy(F.col("f").cast("int").alias("pct_docs")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.countDistinct("fp").cast("bigint").alias("n_unique"),
        (F.count(F.lit(1)) - F.countDistinct("fp"))
        .cast("bigint")
        .alias("n_duplicates"),
        F.round(
            (F.count(F.lit(1)) - F.countDistinct("fp"))
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("dup_rate"),
    )


_MAXCOV_K = 5
_MAXCOV_DOCS = 200


def _max_coverage_oracle_sql(k: int = _MAXCOV_K) -> str:
    parts = [f"""
ds AS (
  SELECT DISTINCT doc_id, w FROM (
    SELECT doc_id,
           unnest([ws[i] || ' ' || ws[i+1]
                   for i in generate_series(1, len(ws) - 1)]) AS w
    FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
          WHERE doc_id < {_MAXCOV_DOCS})
    WHERE len(ws) >= 2
  )
),
g1 AS (
  SELECT doc_id, COUNT(*) AS gain FROM ds GROUP BY doc_id
),
s1 AS (SELECT doc_id AS sel, gain FROM g1 ORDER BY gain DESC, doc_id LIMIT 1),
cov1 AS (SELECT DISTINCT w FROM ds JOIN s1 ON ds.doc_id = s1.sel)"""]
    for i in range(2, k + 1):
        p = i - 1
        parts.append(f"""
g{i} AS (
  SELECT doc_id, COUNT(*) AS gain
  FROM ds WHERE NOT EXISTS (SELECT 1 FROM cov{p} WHERE cov{p}.w = ds.w)
  GROUP BY doc_id
),
s{i} AS (SELECT doc_id AS sel, gain FROM g{i} ORDER BY gain DESC, doc_id LIMIT 1),
cov{i} AS (
  SELECT w FROM cov{p}
  UNION
  SELECT ds.w FROM ds JOIN s{i} ON ds.doc_id = s{i}.sel
)""")
    rows = "\nUNION ALL\n".join(
        f"SELECT {i} AS step, CAST((SELECT sel FROM s{i}) AS BIGINT) AS doc_id,"
        f" CAST((SELECT gain FROM s{i}) AS BIGINT) AS new_covered,"
        f" CAST((SELECT COUNT(*) FROM cov{i}) AS BIGINT) AS total_covered"
        for i in range(1, k + 1)
    )
    # greedy stops at saturation: an empty round selects nothing and
    # emits no row (the Spark loop breaks the same way)
    return (
        "WITH " + ",".join(parts)
        + f"\nSELECT * FROM ({rows}) WHERE doc_id IS NOT NULL"
    )


@query("q396_max_coverage_selection", oracle=_max_coverage_oracle_sql())
def q396_max_coverage_selection(spark, sf_dir):
    """GREEDY MAX-COVERAGE DOCUMENT SELECTION (the set-cover greedy
    with its (1-1/e) guarantee — pick the doc covering the most
    UNCOVERED bigram vocabulary, k times: the set-system sibling of q308's
    facility-location gain greedy and q395's geometric k-center; the
    selector behind 'smallest eval set that exercises the vocabulary'):
    5 rounds over the (doc, word) incidence, emitting each pick's
    marginal gain and the cumulative coverage.

    Scale discipline: each round is ONE anti-join of the incidence
    against the covered set + a map-side-combinable gain count + a
    TakeOrdered argmax; covered grows by selection only (k bounded
    driver rounds, localCheckpoint-free since each round re-derives
    from the persisted incidence). The oracle unrolls the identical 5
    rounds. Counts exact; ties break on doc_id."""
    docs = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") < _MAXCOV_DOCS
    )
    ws = docs.select("doc_id", F.split("text", " ").alias("ws")).where(
        F.size("ws") >= 2
    )
    ds = (
        ws.select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(slice(ws, 1, size(ws) - 1),"
                    " (x, i) -> concat(x, ' ', element_at(ws, i + 2)))"
                )
            ).alias("w"),
        )
        .distinct()
        .transform(managed_persist)
    )
    covered = None
    rows = []
    for step in range(1, _MAXCOV_K + 1):
        cand = ds if covered is None else ds.join(covered, "w", "left_anti")
        gains = cand.groupBy("doc_id").agg(F.count(F.lit(1)).alias("gain"))
        picked = gains.orderBy(F.col("gain").desc(), "doc_id").limit(1).collect()
        if not picked:  # universe covered: the greedy stops (oracle too)
            break
        sel = picked[0]
        new_cov = ds.where(F.col("doc_id") == sel.doc_id).select("w")
        covered = (
            new_cov if covered is None else covered.union(new_cov).distinct()
        ).transform(managed_persist)
        total = covered.count()
        rows.append((step, int(sel.doc_id), int(sel.gain), int(total)))
    return spark.createDataFrame(
        rows, "step int, doc_id bigint, new_covered bigint, total_covered bigint"
    )


_SIEVE_CHUNK = 50  # doc_id range per "micro-batch" in the batch replay
_SIEVE_CHUNKS = 4  # chunks cover doc_id < 200 (the q396 universe)
_SIEVE_PER_BATCH = 2
_SIEVE_MIN_GAIN = 60


def _sieve_coverage_oracle_sql() -> str:
    """The q422 streaming sieve unrolled: chunks x slots stages, each
    stage = gains over the CHUNK's incidence anti-joined against the
    carried covered set, HAVING gain >= min_gain, argmax (gain DESC,
    doc_id ASC). Empty stages emit no row; the covered set threads
    through unchanged (same saturation convention as q396's oracle)."""
    parts = [f"""
ds AS (
  SELECT doc_id // {_SIEVE_CHUNK} AS chunk, doc_id, w FROM (
    SELECT DISTINCT doc_id,
           unnest([ws[i] || ' ' || ws[i+1]
                   for i in generate_series(1, len(ws) - 1)]) AS w
    FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
          WHERE doc_id < {_SIEVE_CHUNK * _SIEVE_CHUNKS})
    WHERE len(ws) >= 2
  )
),
cov0_{_SIEVE_PER_BATCH} AS (SELECT NULL::VARCHAR AS w WHERE 1 = 0)"""]
    prev = f"cov0_{_SIEVE_PER_BATCH}"
    for c in range(1, _SIEVE_CHUNKS + 1):
        for j in range(1, _SIEVE_PER_BATCH + 1):
            tag = f"{c}_{j}"
            parts.append(f"""
g{tag} AS (
  SELECT doc_id, COUNT(*) AS gain
  FROM ds WHERE chunk = {c - 1}
    AND NOT EXISTS (SELECT 1 FROM {prev} p WHERE p.w = ds.w)
  GROUP BY doc_id
  HAVING COUNT(*) >= {_SIEVE_MIN_GAIN}
),
s{tag} AS (SELECT doc_id AS sel, gain FROM g{tag}
           ORDER BY gain DESC, doc_id LIMIT 1),
cov{tag} AS (
  SELECT w FROM {prev}
  UNION
  SELECT ds.w FROM ds JOIN s{tag} ON ds.doc_id = s{tag}.sel
)""")
            prev = f"cov{tag}"
    rows = "\nUNION ALL\n".join(
        f"SELECT {c - 1} AS batch_id, {j} AS slot,"
        f" CAST((SELECT sel FROM s{c}_{j}) AS BIGINT) AS doc_id,"
        f" CAST((SELECT gain FROM s{c}_{j}) AS BIGINT) AS new_covered,"
        f" CAST((SELECT COUNT(*) FROM cov{c}_{j}) AS BIGINT) AS total_covered"
        for c in range(1, _SIEVE_CHUNKS + 1)
        for j in range(1, _SIEVE_PER_BATCH + 1)
    )
    return (
        "WITH " + ",".join(parts)
        + f"\nSELECT * FROM ({rows}) WHERE doc_id IS NOT NULL"
    )


@query("q422_sieve_coverage_stream", oracle=_sieve_coverage_oracle_sql())
def q422_sieve_coverage_stream(spark, sf_dir):
    """STREAMING MAX-COVERAGE SIEVE, batch replay (the r7 ROADMAP lead
    "streaming max-coverage selector" — the foreachBatch face lives in
    streaming/coverage_selector.py with a stream==batch pin; THIS is
    its deterministic batch face, certifiable against an unrolled SQL
    oracle): documents arrive in fixed doc_id-range chunks (the
    micro-batches); per chunk the selector accepts up to
    {_SIEVE_PER_BATCH} docs in greedy order, each required to add >=
    {_SIEVE_MIN_GAIN} UNCOVERED bigrams; the covered vocabulary carries
    across chunks. Contrast with q396 (offline greedy over the whole
    corpus): the sieve never revisits a past batch, so its picks are a
    (1/2 - eps)-style streaming approximation — what an ingest pipeline
    can actually afford at 100 TB.

    Scale shape: per batch a bounded driver loop ({_SIEVE_PER_BATCH}
    rounds) of anti-join + map-side-combinable gain count + TakeOrdered
    argmax; the covered relation grows by selection only (bounded by
    the pick budget, not stream length)."""
    from variantcalling_spark.streaming.coverage_selector import (
        doc_bigrams,
        select_from_batch,
    )

    docs = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") < _SIEVE_CHUNK * _SIEVE_CHUNKS
    )
    covered = None
    rows = []
    for c in range(_SIEVE_CHUNKS):
        chunk = docs.where(
            (F.col("doc_id") >= c * _SIEVE_CHUNK)
            & (F.col("doc_id") < (c + 1) * _SIEVE_CHUNK)
        )
        inc = doc_bigrams(chunk).transform(managed_persist)
        picks, covered = select_from_batch(
            inc,
            covered,
            per_batch=_SIEVE_PER_BATCH,
            min_gain=_SIEVE_MIN_GAIN,
        )
        for slot, doc_id, gain, total in picks:
            rows.append((c, slot, doc_id, gain, total))
    return spark.createDataFrame(
        rows,
        "batch_id int, slot int, doc_id bigint,"
        " new_covered bigint, total_covered bigint",
    )


_MHERR_KS = (8, 16, 32)


def _minhash_error_oracle_sql(num_hashes: int = 32) -> str:
    from variantcalling_spark.operators.dedup import (
        MERSENNE31,
        PORTABLE_HASH_SQL,
        _minhash_coeffs,
    )

    p = MERSENNE31
    phash = PORTABLE_HASH_SQL.format(col="shingle")
    coeffs = _minhash_coeffs(num_hashes)
    sig_cols = ",\n         ".join(
        f"MIN((CAST({a} AS BIGINT) * v + {b}) % {p}) AS h{i}"
        for i, (a, b) in enumerate(coeffs)
    )

    def match_expr(k, side_a="a", side_b="b"):
        return " + ".join(
            f"(CASE WHEN {side_a}.h{i} = {side_b}.h{i} THEN 1 ELSE 0 END)"
            for i in range(k)
        )

    arms = "\nUNION ALL\n".join(
        f"""SELECT {k} AS k_hashes, CAST(COUNT(*) AS BIGINT) AS n_pairs,
       ROUND(CAST(SUM(CAST(ROUND(ABS(m{k} / {k}.0 - jaccard), 10)
                           AS DECIMAL(20,10))) AS DOUBLE) / COUNT(*), 6)
         AS mae,
       ROUND(CAST(SUM(CAST(ROUND(m{k} / {k}.0 - jaccard, 10)
                           AS DECIMAL(20,10))) AS DOUBLE) / COUNT(*), 6)
         AS bias
FROM est"""
        for k in _MHERR_KS
    )
    return f"""
WITH corpus AS ({SQL_CORPUS}),
sh AS (
  SELECT DISTINCT doc_id, shingle
  FROM (
    SELECT doc_id,
           unnest([string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1] || ' ' || string_split(text, ' ')[i+2]
                   for i in generate_series(1, len(string_split(text, ' ')) - 2)]) AS shingle
    FROM corpus
  )
),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
shared AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
pairs AS (
  SELECT doc_a, doc_b,
         n_shared / CAST(sa.n_sh + sb.n_sh - n_shared AS DOUBLE) AS jaccard
  FROM shared
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
  WHERE n_shared / CAST(sa.n_sh + sb.n_sh - n_shared AS DOUBLE) >= 0.6
),
hv AS (SELECT doc_id, {phash} AS v FROM sh),
sig AS (
  SELECT doc_id,
         {sig_cols}
  FROM hv GROUP BY doc_id
),
est AS (
  SELECT p.doc_a, p.doc_b, p.jaccard,
         {", ".join(f"{match_expr(k)} AS m{k}" for k in _MHERR_KS)}
  FROM pairs p
  JOIN sig a ON a.doc_id = p.doc_a
  JOIN sig b ON b.doc_id = p.doc_b
)
{arms}
"""


@query("q451_minhash_error_curve", oracle=_minhash_error_oracle_sql())
def q451_minhash_error_curve(spark, sf_dir):
    """MINHASH ESTIMATION-ERROR CURVE (the accuracy harness for the
    sketch the whole near-dup family rides: q66 USES 32-perm MinHash,
    this MEASURES what signature length actually buys — MAE and bias of
    the k-prefix Jaccard estimate against exact Jaccard over the real
    >=0.6 near-dup pairs, for k = {_MHERR_KS}; the q375/q392 recall-
    harness genre applied to the sketch itself): expected MAE shrinks
    ~1/sqrt(k), and the measured table pins where diminishing returns
    start — the dial-setting evidence for the 32-perm default.

    Scale shape: pair discovery is the q98 shared-shingle equi-join
    (bounded by true overlap); signatures are ONE aggregate over the
    hashed shingle relation; the estimate join touches only the
    discovered pairs."""
    from variantcalling_spark.operators.dedup import (
        jaccard_for_pairs,
        portable_minhash_signatures,
        prefix_filtered_pairs,
        shingles,
    )

    # LOSSLESS PPJoin discovery (prefix + length filter), not the naive
    # shared-shingle self-join: a shingle shared by k docs yields k^2
    # candidates, which measured UNBOUNDED at 100x (r8) — the oracle
    # keeps the naive join (single-node DuckDB), the final >= 0.6 pair
    # set is identical by the losslessness contract
    sh = shingles(corpus(spark, sf_dir), n=3).transform(managed_persist)
    cand = prefix_filtered_pairs(sh, threshold=0.6)
    pairs = jaccard_for_pairs(cand, sh).where(F.col("jaccard") >= 0.6)
    sig = portable_minhash_signatures(sh, num_hashes=32)
    sa = sig.select(F.col("doc_id").alias("doc_a"), F.col("signature").alias("siga"))
    sb = sig.select(F.col("doc_id").alias("doc_b"), F.col("signature").alias("sigb"))
    est = (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "jaccard",
            *[
                F.size(
                    F.filter(
                        F.zip_with(
                            F.slice("siga", 1, k),
                            F.slice("sigb", 1, k),
                            lambda x, y: x == y,
                        ),
                        lambda m: m,
                    )
                ).alias(f"m{k}")
                for k in _MHERR_KS
            ],
        )
        .transform(managed_persist)
    )
    out = None
    for k in _MHERR_KS:
        err = F.col(f"m{k}") / float(k) - F.col("jaccard")
        arm = est.agg(
            F.lit(k).cast("int").alias("k_hashes"),
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.round(
                F.sum(F.round(F.abs(err), 10).cast("decimal(20,10)")).cast(
                    "double"
                )
                / F.count(F.lit(1)),
                6,
            ).alias("mae"),
            F.round(
                F.sum(F.round(err, 10).cast("decimal(20,10)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("bias"),
        )
        out = arm if out is None else out.unionByName(arm)
    return out


_THRESH_SWEEP = (0.5, 0.6, 0.7, 0.8)


def _threshold_sensitivity_oracle_sql() -> str:
    arms = []
    for i, t in enumerate(_THRESH_SWEEP):
        arms.append(f"""
e{i} AS (SELECT doc_a, doc_b FROM pairs WHERE jaccard >= {t}),
edges{i} AS (
  SELECT doc_a AS src, doc_b AS dst FROM e{i}
  UNION SELECT doc_b, doc_a FROM e{i}
),
closure{i} AS (
  SELECT src AS node, src AS reach FROM edges{i}
  UNION
  SELECT c.node, edges{i}.dst
  FROM closure{i} c JOIN edges{i} ON edges{i}.src = c.reach
),
cl{i} AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_clusters,
         CAST(SUM(n_members) AS BIGINT) AS n_docs_clustered,
         CAST(MAX(n_members) AS BIGINT) AS max_cluster
  FROM (
    SELECT reach, COUNT(DISTINCT node) AS n_members
    FROM (SELECT node, MIN(reach) AS reach FROM closure{i} GROUP BY node)
    GROUP BY reach
  )
)""")
    rows = "\nUNION ALL\n".join(
        f"""SELECT CAST({t} AS DOUBLE) AS threshold,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM e{i}) AS n_pairs,
       cl{i}.n_clusters, cl{i}.n_docs_clustered, cl{i}.max_cluster
FROM cl{i}"""
        for i, t in enumerate(_THRESH_SWEEP)
    )
    return f"""
WITH RECURSIVE corpus AS ({SQL_CORPUS}),
sh AS (
  SELECT DISTINCT doc_id, shingle
  FROM (
    SELECT doc_id,
           unnest([string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1] || ' ' || string_split(text, ' ')[i+2]
                   for i in generate_series(1, len(string_split(text, ' ')) - 2)]) AS shingle
    FROM corpus
  )
),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
shared AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
pairs AS (
  SELECT doc_a, doc_b,
         n_shared / CAST(sa.n_sh + sb.n_sh - n_shared AS DOUBLE) AS jaccard
  FROM shared
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
  WHERE n_shared / CAST(sa.n_sh + sb.n_sh - n_shared AS DOUBLE)
        >= {min(_THRESH_SWEEP)}
),{",".join(arms)}
{rows}
"""


@query("q463_dedup_threshold_sensitivity", oracle=_threshold_sensitivity_oracle_sql())
def q463_dedup_threshold_sensitivity(spark, sf_dir):
    """DEDUP THRESHOLD SENSITIVITY SWEEP (the dial-evidence harness for
    THE most consequential knob in the near-dup family: how do pair
    count, cluster count, coverage, and the largest cluster move as
    the Jaccard threshold sweeps {_THRESH_SWEEP}? — a threshold whose
    outcome cliff-drops between 0.6 and 0.7 is a threshold you must
    not pick blind; q451 grades the ESTIMATOR, this grades the
    DECISION): one shared exact-Jaccard pair table at the loosest
    threshold, then per-threshold edge filtering and star-contraction
    components.

    Scale shape: pair discovery once (shared-shingle equi-join);
    each arm is a filter + O(log n)-round contraction on an
    edge-subset — the sweep costs |thresholds| contractions, not
    |thresholds| discoveries."""
    from variantcalling_spark.operators.dedup import (
        connected_components,
        jaccard_for_pairs,
        prefix_filtered_pairs,
        shingles,
    )

    # lossless PPJoin discovery at the LOOSEST threshold (see q451's
    # r8 note: the naive shared-shingle self-join is k^2 per shingle)
    sh = shingles(corpus(spark, sf_dir), n=3).transform(managed_persist)
    cand = prefix_filtered_pairs(sh, threshold=min(_THRESH_SWEEP))
    pairs = (
        jaccard_for_pairs(cand, sh)
        .where(F.col("jaccard") >= min(_THRESH_SWEEP))
        .transform(managed_persist)
    )
    out = None
    for t in _THRESH_SWEEP:
        e = pairs.where(F.col("jaccard") >= t)
        n_pairs = e.count()
        labels = connected_components(e)
        cl = labels.groupBy("label").agg(
            F.count(F.lit(1)).alias("n_members")
        ).agg(
            F.count(F.lit(1)).cast("bigint").alias("n_clusters"),
            F.sum("n_members").cast("bigint").alias("n_docs_clustered"),
            F.max("n_members").cast("bigint").alias("max_cluster"),
        )
        arm = cl.select(
            F.lit(float(t)).alias("threshold"),
            F.lit(n_pairs).cast("bigint").alias("n_pairs"),
            "n_clusters",
            "n_docs_clustered",
            "max_cluster",
        )
        out = arm if out is None else out.unionByName(arm)
    return out


@query(
    "q476_dup_cluster_canonicalization",
    oracle=f"""
WITH RECURSIVE corpus AS ({SQL_CORPUS}),
sh AS (
  SELECT DISTINCT doc_id, shingle
  FROM (
    SELECT doc_id,
           unnest([string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1] || ' ' || string_split(text, ' ')[i+2]
                   for i in generate_series(1, len(string_split(text, ' ')) - 2)]) AS shingle
    FROM corpus
  )
),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
shared AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
e AS (
  SELECT doc_a, doc_b FROM shared
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
  WHERE n_shared / CAST(sa.n_sh + sb.n_sh - n_shared AS DOUBLE) >= 0.6
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM e
  UNION
  SELECT doc_b AS src, doc_a AS dst FROM e
),
closure AS (
  SELECT src AS node, src AS reach FROM edges
  UNION
  SELECT c.node, edges.dst AS reach
  FROM closure c JOIN edges ON edges.src = c.reach
),
labeled AS (
  SELECT node AS doc_id, MIN(reach) AS cluster_id FROM closure GROUP BY node
),
qual AS (
  SELECT c.doc_id, CAST(len(string_split(c.text, ' ')) AS BIGINT) AS n_tokens
  FROM corpus c
)
SELECT l.doc_id, l.cluster_id, q.n_tokens,
       CASE WHEN ROW_NUMBER() OVER (
              PARTITION BY l.cluster_id
              ORDER BY q.n_tokens DESC, l.doc_id) = 1
            THEN 1 ELSE 0 END AS is_kept
FROM labeled l JOIN qual q ON q.doc_id = l.doc_id
""",
)
def q476_dup_cluster_canonicalization(spark, sf_dir):
    """DUP-CLUSTER CANONICALIZATION — which copy to KEEP (the
    production step after q98's clusters: a near-dup cluster must
    collapse to its best member, not an arbitrary one; keeping the
    min-id doc silently prefers whichever shard ingested first, and a
    truncated copy can shadow the full document): per cluster, keep
    the member with the highest quality — here token count (the
    truncation-aware choice: the q98 corpus's near-dups ARE leading-
    word truncations), doc_id as the deterministic tiebreak. Output
    one row per clustered doc with its cluster id, quality, and the
    keep/drop verdict.

    Scale shape: pairs via lossless PPJoin (q65 path), components via
    O(log n)-round star contraction, then ONE rank window
    over cluster-bounded partitions and a join back to per-doc quality
    — nothing beyond the q98 plan but the argmax."""
    from variantcalling_spark.operators.dedup import connected_components

    docs = corpus(spark, sf_dir).transform(managed_persist)
    sh = shingles(docs, n=3).transform(managed_persist)
    cands = prefix_filtered_pairs(sh, threshold=0.6)
    pairs = jaccard_for_pairs(cands, sh).where(F.col("jaccard") >= 0.6)
    labels = connected_components(pairs).select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
    )
    qual = docs.select(
        "doc_id", F.size(F.split("text", " ")).cast("bigint").alias("n_tokens")
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("cluster_id").orderBy(F.col("n_tokens").desc(), "doc_id")
    return (
        labels.join(qual, "doc_id")
        .select(
            "doc_id",
            "cluster_id",
            "n_tokens",
            F.when(F.row_number().over(w) == 1, 1).otherwise(0).alias("is_kept"),
        )
    )


def _rendezvous_oracle_sql(n_old: int = 32, n_new: int = 48) -> str:
    from variantcalling_spark.operators.dedup import PORTABLE_HASH_SQL

    h = PORTABLE_HASH_SQL.format(
        col="concat(CAST(doc_id AS VARCHAR), ':', CAST(s AS VARCHAR))"
    )
    return f"""
WITH w AS (
  SELECT doc_id,
         list_transform(generate_series(0, {n_new - 1}), s -> {h}) AS wt
  FROM documents
),
a AS (
  SELECT doc_id,
         CAST(list_position(wt[1:{n_old}], list_aggregate(wt[1:{n_old}], 'max')) - 1 AS INT) AS shard_old,
         CAST(list_position(wt, list_aggregate(wt, 'max')) - 1 AS INT) AS shard_new
  FROM w
),
core AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
         CAST(SUM(CASE WHEN shard_old <> shard_new THEN 1 ELSE 0 END) AS BIGINT) AS n_moved,
         CAST(SUM(CASE WHEN shard_old <> shard_new AND shard_new < {n_old} THEN 1 ELSE 0 END) AS BIGINT) AS n_moved_to_surviving,
         ROUND(SUM(CASE WHEN shard_old <> shard_new THEN 1 ELSE 0 END)
               / CAST(COUNT(*) AS DOUBLE), 6) AS moved_frac
  FROM a
),
oe AS (
  SELECT CAST(MAX(n) AS BIGINT) AS old_load_max, CAST(MIN(n) AS BIGINT) AS old_load_min
  FROM (SELECT COUNT(*) AS n FROM a GROUP BY shard_old)
),
ne AS (
  SELECT CAST(MAX(n) AS BIGINT) AS new_load_max, CAST(MIN(n) AS BIGINT) AS new_load_min
  FROM (SELECT COUNT(*) AS n FROM a GROUP BY shard_new)
)
SELECT * FROM core, oe, ne
"""


@query("q485_rendezvous_sharding", oracle=_rendezvous_oracle_sql())
def q485_rendezvous_sharding(spark, sf_dir):
    """RENDEZVOUS (HRW) SHARD REBALANCE AUDIT (Thaler & Ravishankar
    1998 — the consistent-placement primitive under shard-local dedup
    indexes, bucketed sinks, and cache affinity): grow the ring 32 ->
    48 shards and measure, in-data, the two guarantees the scheme is
    chosen for — (1) only ~(48-32)/48 = 1/3 of keys move, and (2) NO
    key moves between two SURVIVING shards (n_moved_to_surviving must
    be 0: a new shard can steal a key, old shards never trade), plus
    the old/new per-shard load extremes as balance evidence.

    Scale shape: assignment is one scan-local array expression per row
    (48 md5 folds, JVM codegen, zero shuffle, no lookup table — the
    100 TB property: placement is computable anywhere without
    coordination); the audit adds one 48-key-bounded groupBy. Both
    rings share one weight array per key (old ring = argmax of the
    first 32 slots), and the portable md5 hash makes every count
    engine-exact."""
    from variantcalling_spark.operators.sharding import shard_movement_audit

    docs = load_table(spark, sf_dir, "documents")
    return shard_movement_audit(docs, "doc_id", n_old=32, n_new=48)


def _winnowing_oracle_sql() -> str:
    from variantcalling_spark.operators.dedup import winnowing_sql

    return f"""
WITH {winnowing_sql(SQL_CORPUS)},
fph AS (SELECT DISTINCT doc_id, h FROM fp),
dfh AS (SELECT h, COUNT(*) AS ndocs FROM fph GROUP BY h),
kept AS (SELECT fph.doc_id, fph.h FROM fph JOIN dfh USING (h) WHERE ndocs <= 100),
sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_fp FROM kept GROUP BY doc_id),
pr AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS n_shared
  FROM kept a JOIN kept b ON a.h = b.h AND a.doc_id < b.doc_id
  GROUP BY 1, 2 HAVING COUNT(*) >= 2
)
SELECT doc_a, doc_b, n_shared, sa.n_fp AS n_fp_a, sb.n_fp AS n_fp_b,
       ROUND(n_shared / CAST(LEAST(sa.n_fp, sb.n_fp) AS DOUBLE), 6) AS containment
FROM pr JOIN sizes sa ON sa.doc_id = pr.doc_a
        JOIN sizes sb ON sb.doc_id = pr.doc_b
"""


@query("q486_winnowing_fingerprints", oracle=_winnowing_oracle_sql())
def q486_winnowing_fingerprints(spark, sf_dir):
    """WINNOWING FINGERPRINT SIMILARITY (Schleimer/Wilkerson/Aiken
    SIGMOD 2003 — the MOSS plagiarism sketch): every word-3-gram is
    hashed, each 4-hash window keeps its minimum (rightmost tie-break),
    and documents sharing >= 2 selected fingerprints are scored by
    containment n_shared / min(|fp_a|, |fp_b|). Unlike MinHash (q66,
    probabilistic) winnowing carries a DETECTION GUARANTEE — any shared
    run of >= w+n-1 = 6 words yields a shared fingerprint — at a fixed
    expected density of 2/(w+1) of positions, so it is the local-match
    complement to q114's global substring dedup.

    Scale shape: selection is one partition-local window MIN per doc
    (the argmin+rightmost-tie is a single int64 key, no second pass);
    discovery joins only the ~29% of positions that survive selection,
    with a df<=100 stop-list on the fingerprint index (the q451 lesson:
    pair discovery must be frequency-bounded from day one — cost is
    Sigma df^2 over KEPT fingerprints, never corpus^2)."""
    from variantcalling_spark.operators.dedup import winnowing_fingerprints

    fp = (
        winnowing_fingerprints(corpus(spark, sf_dir), n=3, w=4)
        .select("doc_id", "h")
        .distinct()
        .transform(managed_persist)
    )
    dfh = fp.groupBy("h").agg(F.count(F.lit(1)).alias("ndocs"))
    kept = fp.join(dfh.where(F.col("ndocs") <= 100), "h").select(
        "doc_id", "h"
    ).transform(managed_persist)
    sizes = kept.groupBy("doc_id").agg(F.count(F.lit(1)).cast("bigint").alias("n_fp"))
    a = kept.select(F.col("doc_id").alias("doc_a"), "h")
    b = kept.select(F.col("doc_id").alias("doc_b"), "h")
    pr = (
        a.join(b, "h")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
        .where(F.col("n_shared") >= 2)
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_fp").alias("n_fp_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_fp").alias("n_fp_b"))
    return (
        pr.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "n_shared",
            "n_fp_a",
            "n_fp_b",
            F.round(
                F.col("n_shared")
                / F.least(F.col("n_fp_a"), F.col("n_fp_b")).cast("double"),
                6,
            ).alias("containment"),
        )
    )


_WING_BATCH_SQL = """
  SELECT doc_id + 200000 AS doc_id, text FROM documents WHERE doc_id % 20 = 0
  UNION ALL
  SELECT doc_id + 100000 AS doc_id, substr(text, strpos(text, ' ') + 1) AS text
  FROM documents WHERE doc_id % 10 = 0
  UNION ALL
  SELECT doc_id + 300000 AS doc_id,
         array_to_string(list_reverse(string_split(text, ' ')), ' ') AS text
  FROM documents WHERE doc_id % 7 = 0
"""


def _winnowing_ingest_oracle_sql() -> str:
    from variantcalling_spark.operators.dedup import winnowing_sql

    return f"""
WITH {winnowing_sql("SELECT doc_id, text FROM documents")},
{winnowing_sql(_WING_BATCH_SQL, sfx="_b")},
fpc AS (SELECT DISTINCT doc_id, h FROM fp),
dfh AS (SELECT h, COUNT(*) AS ndocs FROM fpc GROUP BY h),
idx AS (SELECT fpc.doc_id AS old_id, fpc.h FROM fpc JOIN dfh USING (h)
        WHERE ndocs <= 100),
fpn AS (SELECT DISTINCT doc_id AS new_id, h FROM fp_b),
sizes AS (SELECT new_id, CAST(COUNT(*) AS BIGINT) AS n_fp_new FROM fpn GROUP BY new_id),
hits AS (
  SELECT fpn.new_id, idx.old_id, CAST(COUNT(*) AS BIGINT) AS n_shared
  FROM fpn JOIN idx USING (h)
  GROUP BY fpn.new_id, idx.old_id
)
SELECT h.new_id, h.old_id, h.n_shared, s.n_fp_new,
       ROUND(h.n_shared / CAST(s.n_fp_new AS DOUBLE), 6) AS containment
FROM hits h JOIN sizes s USING (new_id)
WHERE ROUND(h.n_shared / CAST(s.n_fp_new AS DOUBLE), 6) >= 0.5
"""


@query("q493_winnowing_ingest_dedup", oracle=_winnowing_ingest_oracle_sql())
def q493_winnowing_ingest_dedup(spark, sf_dir):
    """WINNOWING DEDUP AT INGEST, batch replay (the EXACT-substring
    member of the ingest-dedup matrix — q122 = MinHash/probabilistic,
    q482 = embedding cosine, this = winnowing with its detection
    GUARANTEE; the foreachBatch face lives in
    streaming/winnowing_ingest.py with a stream==batch pin): a new
    batch — exact copies of every 20th doc, first-word-dropped copies
    of every 10th, and WORD-REVERSED copies of every 7th (every
    1-gram survives reversal but almost no 3-gram does: the hard-
    negative arm — at sf0.01 it yields just 3 borderline flags, all at
    exactly 0.5, vs containment 1.0 for every exact copy) — computes
    its fingerprints with the ROWWISE
    scan-local operator (zero shuffle, stream-legal, pinned identical
    to the windowed one) and probes the stored df<=100 index;
    containment >= 0.5 flags.

    Scale shape: index built once over the corpus (the q486 window
    path); each ingest batch costs one array-lambda projection + an
    equi-join on h + one bounded aggregate — O(|batch| + collisions)
    per ingest at any corpus size."""
    from variantcalling_spark.streaming.winnowing_ingest import (
        build_fingerprint_index,
        streaming_fingerprint_probe,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    exact = docs.where(F.col("doc_id") % 20 == 0).select(
        (F.col("doc_id") + 200000).alias("doc_id"), "text"
    )
    near = docs.where(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.expr("substr(text, instr(text, ' ') + 1)").alias("text"),
    )
    reversed_ = docs.where(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 300000).alias("doc_id"),
        F.array_join(F.reverse(F.split("text", " ")), " ").alias("text"),
    )
    batch = exact.unionByName(near).unionByName(reversed_)
    index = build_fingerprint_index(docs).transform(managed_persist)
    return streaming_fingerprint_probe(batch, index, threshold=0.5)


_WJ_CORPUS_SQL = """
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 200000 AS doc_id, text FROM documents WHERE doc_id % 20 = 0
  UNION ALL
  SELECT doc_id + 100000 AS doc_id, substr(text, strpos(text, ' ') + 1) AS text
  FROM documents WHERE doc_id % 10 = 0
  UNION ALL
  SELECT doc_id + 400000 AS doc_id, text || ' ' || text AS text
  FROM documents WHERE doc_id % 15 = 0
"""


def _weighted_jaccard_oracle_sql() -> str:
    return f"""
WITH corpus AS ({_WJ_CORPUS_SQL}),
tok AS (SELECT doc_id, string_split(text, ' ') AS ws FROM corpus),
psh AS (
  SELECT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS shingle
  FROM tok, unnest(generate_series(1, len(ws) - 2)) AS t(i)
),
tf AS (SELECT doc_id, shingle, CAST(COUNT(*) AS BIGINT) AS tf
       FROM psh GROUP BY doc_id, shingle),
sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh,
                 CAST(SUM(tf) AS BIGINT) AS tot
          FROM tf GROUP BY doc_id),
shared AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(COUNT(*) AS BIGINT) AS n_shared,
         CAST(SUM(LEAST(a.tf, b.tf)) AS BIGINT) AS w_shared
  FROM tf a JOIN tf b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
scored AS (
  SELECT s.doc_a, s.doc_b,
         s.n_shared / CAST(sa.n_sh + sb.n_sh - s.n_shared AS DOUBLE) AS jb,
         s.w_shared / CAST(sa.tot + sb.tot - s.w_shared AS DOUBLE) AS jw
  FROM shared s
  JOIN sizes sa ON sa.doc_id = s.doc_a
  JOIN sizes sb ON sb.doc_id = s.doc_b
)
SELECT doc_a, doc_b,
       ROUND(jb, 6) AS jaccard_binary,
       ROUND(jw, 6) AS jaccard_weighted,
       ROUND(jb - jw, 6) AS repetition_gap
FROM scored WHERE jb >= 0.5
"""


@query("q494_weighted_jaccard", oracle=_weighted_jaccard_oracle_sql())
def q494_weighted_jaccard(spark, sf_dir):
    """WEIGHTED (MULTISET) JACCARD vs BINARY — the repetition-
    sensitivity ledger (binary Jaccard treats shingles as a SET, so a
    document that simply REPEATS a passage scores ~1.0 against the
    single-occurrence original and gets deleted as an exact near-dup;
    the weighted score Sigma min(tf)/Sigma max(tf) calls it ~0.5 — the
    signal separating template/boilerplate spam from true duplication):
    every binary >= 0.5 pair in an augmented corpus carrying a planted
    DOUBLED-text arm (every 15th doc twice-concatenated) is scored both
    ways; the repetition_gap column isolates exactly the doubled pairs
    (gap ~0.5) from the exact/near copies (gap ~0).

    Scale discipline: discovery here is the lossless PPJoin prefix
    filter on DISTINCT shingles (binary >= 0.5 is the discovery
    predicate; the oracle keeps the naive shared-shingle join — the
    q451 split); the weighted verify adds ONE integer sum per pair on
    the same shared-shingle relation, tots are a broadcastable ledger."""
    from variantcalling_spark.operators.dedup import (
        jaccard_for_pairs,
        prefix_filtered_pairs,
        shingles,
        tf_shingles,
        weighted_jaccard_for_pairs,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    doubled = docs.where(F.col("doc_id") % 15 == 0).select(
        (F.col("doc_id") + 400000).alias("doc_id"),
        F.concat_ws(" ", F.col("text"), F.col("text")).alias("text"),
    )
    c = corpus(spark, sf_dir).unionByName(doubled)
    sh = shingles(c, n=3).transform(managed_persist)
    cands = prefix_filtered_pairs(sh, threshold=0.5)
    binary = jaccard_for_pairs(cands, sh).where(F.col("jaccard") >= 0.5)
    tf = tf_shingles(c, n=3).transform(managed_persist)
    weighted = weighted_jaccard_for_pairs(
        binary.select("doc_a", "doc_b"), tf
    )
    return binary.select(
        "doc_a", "doc_b", F.col("jaccard").alias("jb")
    ).join(weighted, ["doc_a", "doc_b"]).select(
        "doc_a",
        "doc_b",
        F.round(F.col("jb"), 6).alias("jaccard_binary"),
        F.round(F.col("jaccard_weighted"), 6).alias("jaccard_weighted"),
        F.round(F.col("jb") - F.col("jaccard_weighted"), 6).alias(
            "repetition_gap"
        ),
    )


_SCURVE_DROPS = (2, 8, 20, 40, 70)  # words dropped -> jaccard spectrum
_SCURVE_B, _SCURVE_R = 8, 4


def _s_curve_oracle_sql() -> str:
    from variantcalling_spark.operators.dedup import (
        MERSENNE31,
        PORTABLE_HASH_SQL,
        _minhash_coeffs,
    )

    p = MERSENNE31
    phash = PORTABLE_HASH_SQL.format(col="shingle")
    coeffs = _minhash_coeffs(_SCURVE_B * _SCURVE_R)
    sig_cols = ",\n         ".join(
        f"MIN((CAST({a} AS BIGINT) * v + {b}) % {p}) AS h{i}"
        for i, (a, b) in enumerate(coeffs)
    )

    def bucket_expr(b):
        acc = f"h{b * _SCURVE_R}"
        for r in range(1, _SCURVE_R):
            acc = f"(({acc}) * 8191 + h{b * _SCURVE_R + r}) % {p}"
        return acc

    band_selects = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, {b} AS band, {bucket_expr(b)} AS bucket FROM sig"
        for b in range(_SCURVE_B)
    )
    variants = "\n  UNION ALL\n".join(
        f"""  SELECT doc_id + {(i + 1) * 1000000} AS doc_id,
         array_to_string(string_split(text, ' ')[{k + 1}:], ' ') AS text
  FROM documents WHERE doc_id % 5 = 0"""
        for i, k in enumerate(_SCURVE_DROPS)
    )
    pair_sel = "\n  UNION ALL\n".join(
        f"  SELECT doc_id AS doc_a, doc_id + {(i + 1) * 1000000} AS doc_b"
        f" FROM documents WHERE doc_id % 5 = 0"
        for i in range(len(_SCURVE_DROPS))
    )
    return f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0
  UNION ALL
{variants}
),
prs AS (
{pair_sel}
),
sh AS (
  SELECT DISTINCT doc_id, shingle
  FROM (
    SELECT doc_id,
           unnest([string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1] || ' ' || string_split(text, ' ')[i+2]
                   for i in generate_series(1, len(string_split(text, ' ')) - 2)]) AS shingle
    FROM corpus
  )
),
sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh FROM sh GROUP BY doc_id),
shared AS (
  SELECT pr.doc_a, pr.doc_b, CAST(COUNT(*) AS BIGINT) AS n_shared
  FROM prs pr
  JOIN sh a ON a.doc_id = pr.doc_a
  JOIN sh b ON b.doc_id = pr.doc_b AND b.shingle = a.shingle
  GROUP BY pr.doc_a, pr.doc_b
),
jacc AS (
  SELECT s.doc_a, s.doc_b,
         s.n_shared / CAST(sa.n_sh + sb.n_sh - s.n_shared AS DOUBLE) AS j
  FROM shared s
  JOIN sizes sa ON sa.doc_id = s.doc_a
  JOIN sizes sb ON sb.doc_id = s.doc_b
),
hv AS (SELECT doc_id, {phash} AS v FROM sh),
sig AS (SELECT doc_id, {sig_cols} FROM hv GROUP BY doc_id),
bands AS (
{band_selects}
),
coll AS (
  SELECT DISTINCT ba.doc_id AS doc_a, bb.doc_id AS doc_b
  FROM bands ba JOIN bands bb
    ON ba.band = bb.band AND ba.bucket = bb.bucket
  JOIN prs ON prs.doc_a = ba.doc_id AND prs.doc_b = bb.doc_id
),
scored AS (
  SELECT j.j,
         CASE WHEN coll.doc_a IS NOT NULL THEN 1 ELSE 0 END AS collided,
         1.0 - (((1.0 - (j.j * j.j * j.j * j.j)) * (1.0 - (j.j * j.j * j.j * j.j)))
                * ((1.0 - (j.j * j.j * j.j * j.j)) * (1.0 - (j.j * j.j * j.j * j.j))))
             * ((((1.0 - (j.j * j.j * j.j * j.j)) * (1.0 - (j.j * j.j * j.j * j.j)))
                * ((1.0 - (j.j * j.j * j.j * j.j)) * (1.0 - (j.j * j.j * j.j * j.j)))))
           AS predicted
  FROM jacc j LEFT JOIN coll ON coll.doc_a = j.doc_a AND coll.doc_b = j.doc_b
)
SELECT CAST(FLOOR(j * 10) AS INT) AS j_decile,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       ROUND(SUM(collided) / CAST(COUNT(*) AS DOUBLE), 6) AS measured_rate,
       ROUND(CAST(SUM(CAST(ROUND(predicted, 9) AS DECIMAL(24,12))) AS DOUBLE)
             / COUNT(*), 6) AS predicted_rate
FROM scored
GROUP BY j_decile
"""


@query("q495_lsh_s_curve_validation", oracle=_s_curve_oracle_sql())
def q495_lsh_s_curve_validation(spark, sf_dir):
    """LSH S-CURVE VALIDATION — does the THEORY the (b, r) dial is set
    by match the IMPLEMENTATION? (q66 runs b=8 bands of r=4 rows
    because P[collide] = 1-(1-j^4)^8 promises ~0.97 recall at j=0.8
    and ~0.03 false-candidate rate at j=0.3; this harness checks that
    promise against the ACTUAL portable-minhash banding, per jaccard
    decile, on pairs with a CONTROLLED similarity spectrum — drop
    2/8/20/40/70 leading words from every 5th doc): output is the
    per-decile ledger (n_pairs, measured collision rate, mean
    predicted rate). A systematic gap would mean the hash family or
    the band fold is biased — the dial evidence, measured not cited.

    Exactness: true jaccard from exact integer shingle counts
    (identical doubles); the prediction avoids pow() entirely —
    j^4 by explicit multiplication, (1-j^4)^8 by three squarings in a
    fixed order, then 9dp DECIMAL snap — so both engines agree to the
    bit. The pair set is ID-ARITHMETIC (source, source+offset): the
    harness evaluates the banding function, it never discovers.

    Scale shape: signatures one MIN-aggregate; collision check is an
    equi-join on (band, bucket) restricted to the planted pairs;
    everything else is a bounded per-pair ledger."""
    from pyspark.sql import functions as _F

    from variantcalling_spark.operators.dedup import (
        jaccard_for_pairs,
        portable_band_buckets,
        portable_minhash_signatures,
        shingles,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    srcs = docs.where(F.col("doc_id") % 5 == 0)
    ws = F.split("text", " ")
    c = srcs
    pair_parts = []
    for i, k in enumerate(_SCURVE_DROPS):
        off = (i + 1) * 1000000
        c = c.unionByName(
            srcs.select(
                (F.col("doc_id") + off).alias("doc_id"),
                F.array_join(F.slice(ws, k + 1, F.size(ws)), " ").alias("text"),
            )
        )
        pair_parts.append(
            srcs.select(
                F.col("doc_id").alias("doc_a"),
                (F.col("doc_id") + off).alias("doc_b"),
            )
        )
    prs = pair_parts[0]
    for part in pair_parts[1:]:
        prs = prs.unionByName(part)
    prs = prs.transform(managed_persist)

    sh = shingles(c, n=3).transform(managed_persist)
    jacc = jaccard_for_pairs(prs, sh).select("doc_a", "doc_b", F.col("jaccard").alias("j"))
    sig = portable_minhash_signatures(sh, num_hashes=_SCURVE_B * _SCURVE_R)
    bands = portable_band_buckets(
        sig, num_bands=_SCURVE_B, rows_per_band=_SCURVE_R
    ).transform(managed_persist)
    ba = bands.select(F.col("doc_id").alias("doc_a"), "band", F.col("bucket").alias("ka"))
    bb = bands.select(F.col("doc_id").alias("doc_b"), "band", F.col("bucket").alias("kb"))
    coll = (
        prs.join(ba, "doc_a")
        .join(bb, ["doc_b", "band"])
        .where(F.col("ka") == F.col("kb"))
        .select("doc_a", "doc_b")
        .distinct()
        .withColumn("collided", F.lit(1))
    )
    j = F.col("j")
    j4 = j * j * j * j
    x = F.lit(1.0) - j4
    x2 = x * x
    x4 = x2 * x2
    predicted = F.lit(1.0) - x4 * x4
    scored = (
        jacc.join(coll, ["doc_a", "doc_b"], "left")
        .select(
            "j",
            F.coalesce("collided", F.lit(0)).alias("collided"),
            predicted.alias("predicted"),
        )
    )
    return scored.groupBy(
        F.floor(F.col("j") * 10).cast("int").alias("j_decile")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.round(F.sum("collided") / F.count(F.lit(1)).cast("double"), 6).alias(
            "measured_rate"
        ),
        F.round(
            F.sum(F.round(F.col("predicted"), 9).cast("decimal(24,12)")).cast(
                "double"
            )
            / F.count(F.lit(1)),
            6,
        ).alias("predicted_rate"),
    )


_PLAN_CONFIGS = tuple(
    (b, r) for b in (4, 8, 16) for r in (2, 3, 4, 6, 8) if b * r <= 64
)
_PLAN_THRESH = 0.6


def _pow_chain_sql(x: str, n: int) -> str:
    """x^n as an explicit left-assoc multiplication chain (pow()-free:
    libm pow differs across engines in the last ulp; products don't)."""
    return "(" + " * ".join([x] * n) + ")"


def _pow_chain_col(x, n: int):
    acc = x
    for _ in range(n - 1):
        acc = acc * x
    return acc


def _band_planner_oracle_sql() -> str:
    # reuse q495's controlled-spectrum pair relation
    variants = "\n  UNION ALL\n".join(
        f"""  SELECT doc_id + {(i + 1) * 1000000} AS doc_id,
         array_to_string(string_split(text, ' ')[{k + 1}:], ' ') AS text
  FROM documents WHERE doc_id % 5 = 0"""
        for i, k in enumerate(_SCURVE_DROPS)
    )
    pair_sel = "\n  UNION ALL\n".join(
        f"  SELECT doc_id AS doc_a, doc_id + {(i + 1) * 1000000} AS doc_b"
        f" FROM documents WHERE doc_id % 5 = 0"
        for i in range(len(_SCURVE_DROPS))
    )
    arms = []
    for b, r in _PLAN_CONFIGS:
        jr = _pow_chain_sql("j", r)
        p_coll = f"(1.0 - {_pow_chain_sql(f'(1.0 - {jr})', b)})"
        arms.append(f"""SELECT {b} AS n_bands, {r} AS rows_per_band,
       CAST(SUM(CASE WHEN j >= {_PLAN_THRESH} THEN 1 ELSE 0 END) AS BIGINT) AS n_true,
       ROUND(CAST(SUM(CASE WHEN j >= {_PLAN_THRESH}
                  THEN CAST(ROUND({p_coll}, 9) AS DECIMAL(24,12))
                  ELSE CAST(0 AS DECIMAL(24,12)) END) AS DOUBLE)
             / SUM(CASE WHEN j >= {_PLAN_THRESH} THEN 1 ELSE 0 END), 6) AS pred_recall,
       ROUND(CAST(SUM(CASE WHEN j < {_PLAN_THRESH}
                  THEN CAST(ROUND({p_coll}, 9) AS DECIMAL(24,12))
                  ELSE CAST(0 AS DECIMAL(24,12)) END) AS DOUBLE)
             / SUM(CASE WHEN j < {_PLAN_THRESH} THEN 1 ELSE 0 END), 6) AS pred_fp_rate,
       {b * r} AS n_hashes
FROM jacc""")
    arm_sql = "\nUNION ALL\n".join(arms)
    return f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0
  UNION ALL
{variants}
),
prs AS (
{pair_sel}
),
sh AS (
  SELECT DISTINCT doc_id, shingle
  FROM (
    SELECT doc_id,
           unnest([string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1] || ' ' || string_split(text, ' ')[i+2]
                   for i in generate_series(1, len(string_split(text, ' ')) - 2)]) AS shingle
    FROM corpus
  )
),
sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh FROM sh GROUP BY doc_id),
shared AS (
  SELECT pr.doc_a, pr.doc_b, CAST(COUNT(*) AS BIGINT) AS n_shared
  FROM prs pr
  JOIN sh a ON a.doc_id = pr.doc_a
  JOIN sh b ON b.doc_id = pr.doc_b AND b.shingle = a.shingle
  GROUP BY pr.doc_a, pr.doc_b
),
jacc AS (
  SELECT s.n_shared / CAST(sa.n_sh + sb.n_sh - s.n_shared AS DOUBLE) AS j
  FROM shared s
  JOIN sizes sa ON sa.doc_id = s.doc_a
  JOIN sizes sb ON sb.doc_id = s.doc_b
),
grid AS (
{arm_sql}
)
SELECT *,
       CASE WHEN pred_recall = (SELECT MAX(pred_recall) FROM grid g2
                                WHERE g2.pred_fp_rate <= 0.05)
             AND pred_fp_rate <= 0.05
             AND n_hashes = (SELECT MIN(n_hashes) FROM grid g3
                             WHERE g3.pred_fp_rate <= 0.05
                               AND g3.pred_recall = (SELECT MAX(pred_recall) FROM grid g4
                                                     WHERE g4.pred_fp_rate <= 0.05))
            THEN 1 ELSE 0 END AS chosen
FROM grid
"""


@query("q497_lsh_band_planner", oracle=_band_planner_oracle_sql())
def q497_lsh_band_planner(spark, sf_dir):
    """LSH (b, r) PLANNER — q495 validated that the banding obeys
    1-(1-j^r)^b; this operationalizes it: over the MEASURED similarity
    spectrum of the corpus (the q495 controlled drop-k pairs standing
    in for a pilot sample), evaluate the whole (b, r) grid and mark
    the config that maximizes predicted recall on true (j >= 0.6)
    pairs subject to a predicted false-candidate rate <= 5% on
    non-dup pairs, cheapest signature on ties — the dial is now SET BY
    DATA, not folklore (and the grid row for the shipped (8, 4)
    default shows where it sits).

    Exactness: every power is an explicit multiplication chain
    (pow()-free), per-pair predictions snap to 9 dp and sum as
    DECIMAL; the chosen flag is integer comparisons over the grid
    ledger.

    Scale shape: the spectrum is |pairs| rows (a pilot-sized sample at
    production scale); the grid is {len(_PLAN_CONFIGS)} rows of
    arithmetic — the planner itself is free."""
    from variantcalling_spark.operators.dedup import (
        jaccard_for_pairs,
        shingles,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    srcs = docs.where(F.col("doc_id") % 5 == 0)
    ws = F.split("text", " ")
    c = srcs
    pair_parts = []
    for i, k in enumerate(_SCURVE_DROPS):
        off = (i + 1) * 1000000
        c = c.unionByName(
            srcs.select(
                (F.col("doc_id") + off).alias("doc_id"),
                F.array_join(F.slice(ws, k + 1, F.size(ws)), " ").alias("text"),
            )
        )
        pair_parts.append(
            srcs.select(
                F.col("doc_id").alias("doc_a"),
                (F.col("doc_id") + off).alias("doc_b"),
            )
        )
    prs = pair_parts[0]
    for part in pair_parts[1:]:
        prs = prs.unionByName(part)
    sh = shingles(c, n=3).transform(managed_persist)
    # lazy checkpoint: every (b, r) grid arm aggregates over jacc, and
    # the grid ledger feeds three consumers — without lineage cuts the
    # static plan re-inlined the shingle+verify pipeline per arm (266
    # Exchange nodes; the campaign recipe)
    jacc = (
        jaccard_for_pairs(prs, sh)
        .select(F.col("jaccard").alias("j"))
        .transform(lineage_cut)
    )

    t = F.lit(_PLAN_THRESH)
    arms = None
    for b, r in _PLAN_CONFIGS:
        jr = _pow_chain_col(F.col("j"), r)
        p_coll = F.lit(1.0) - _pow_chain_col(F.lit(1.0) - jr, b)
        snapped = F.round(p_coll, 9).cast("decimal(24,12)")
        zero = F.lit(0).cast("decimal(24,12)")
        arm = jacc.agg(
            F.sum(F.when(F.col("j") >= t, 1).otherwise(0))
            .cast("bigint")
            .alias("n_true"),
            F.round(
                F.sum(F.when(F.col("j") >= t, snapped).otherwise(zero)).cast(
                    "double"
                )
                / F.sum(F.when(F.col("j") >= t, 1).otherwise(0)),
                6,
            ).alias("pred_recall"),
            F.round(
                F.sum(F.when(F.col("j") < t, snapped).otherwise(zero)).cast(
                    "double"
                )
                / F.sum(F.when(F.col("j") < t, 1).otherwise(0)),
                6,
            ).alias("pred_fp_rate"),
        ).select(
            F.lit(b).alias("n_bands"),
            F.lit(r).alias("rows_per_band"),
            "n_true",
            "pred_recall",
            "pred_fp_rate",
            F.lit(b * r).alias("n_hashes"),
        )
        arms = arm if arms is None else arms.unionByName(arm)
    grid = arms.transform(lineage_cut)
    ok = grid.where(F.col("pred_fp_rate") <= 0.05)
    best_recall = ok.agg(F.max("pred_recall").alias("mr"))
    cheapest = (
        ok.crossJoin(F.broadcast(best_recall))
        .where(F.col("pred_recall") == F.col("mr"))
        .agg(F.min("n_hashes").alias("mh"))
    )
    return (
        grid.crossJoin(F.broadcast(best_recall))
        .crossJoin(F.broadcast(cheapest))
        .select(
            "n_bands",
            "rows_per_band",
            "n_true",
            "pred_recall",
            "pred_fp_rate",
            "n_hashes",
            F.when(
                (F.col("pred_fp_rate") <= 0.05)
                & (F.col("pred_recall") == F.col("mr"))
                & (F.col("n_hashes") == F.col("mh")),
                1,
            )
            .otherwise(0)
            .alias("chosen"),
        )
    )


_WRAP_BATCH_SQL = """
  SELECT doc_id + 500000 AS doc_id,
         'begin wrapped reprint notice ' || text || ' end of reprinted material' AS text
  FROM documents WHERE doc_id % 12 = 0
  UNION ALL
  SELECT doc_id + 300000 AS doc_id,
         array_to_string(list_reverse(string_split(text, ' ')), ' ') AS text
  FROM documents WHERE doc_id % 7 = 0
"""


def _containment_oracle_sql() -> str:
    from variantcalling_spark.operators.dedup import winnowing_sql

    return f"""
WITH {winnowing_sql("SELECT doc_id, text FROM documents")},
{winnowing_sql(_WRAP_BATCH_SQL, sfx="_b")},
fpc AS (SELECT DISTINCT doc_id, h FROM fp),
dfh AS (SELECT h, COUNT(*) AS ndocs FROM fpc GROUP BY h),
idx AS (SELECT fpc.doc_id AS old_id, fpc.h FROM fpc JOIN dfh USING (h)
        WHERE ndocs <= 100),
osz AS (SELECT old_id, CAST(COUNT(*) AS BIGINT) AS n_fp_old FROM idx GROUP BY old_id),
fpn AS (SELECT DISTINCT doc_id AS new_id, h FROM fp_b),
hits AS (
  SELECT fpn.new_id, idx.old_id, CAST(COUNT(*) AS BIGINT) AS n_shared
  FROM fpn JOIN idx USING (h)
  GROUP BY fpn.new_id, idx.old_id
)
SELECT h.new_id, h.old_id, h.n_shared, o.n_fp_old,
       ROUND(h.n_shared / CAST(o.n_fp_old AS DOUBLE), 6) AS containment_old
FROM hits h JOIN osz o USING (old_id)
WHERE ROUND(h.n_shared / CAST(o.n_fp_old AS DOUBLE), 6) >= 0.8
"""


@query("q498_winnowing_containment", oracle=_containment_oracle_sql())
def q498_winnowing_containment(spark, sf_dir):
    """CONTAINMENT-DIRECTION WINNOWING — SUPERSET detection (q493 asks
    'is the NEW doc mostly old content?', normalizing by the new doc's
    fingerprints; this asks the reverse: 'does the new doc CONTAIN an
    entire old doc?', normalizing by the OLD doc's — the wrapper/
    reprint/quotation shape, where a long new doc swallows a short old
    one whole and symmetric Jaccard stays low): planted wrappers
    (every 12th doc re-issued between boilerplate banners) must flag
    their source at containment_old ~1 (winnowing fingerprints are
    position-independent, so only the w-1 boundary windows differ);
    word-reversed hard negatives must not.

    Scale shape: q493's exactly — same index, same probe join, the
    ONLY change is which side's fingerprint count divides; both
    directions can be emitted from one probe pass in production."""
    from variantcalling_spark.operators.dedup import (
        rowwise_winnowing_fingerprints,
    )
    from variantcalling_spark.streaming.winnowing_ingest import (
        build_fingerprint_index,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    wrapped = docs.where(F.col("doc_id") % 12 == 0).select(
        (F.col("doc_id") + 500000).alias("doc_id"),
        F.concat(
            F.lit("begin wrapped reprint notice "),
            F.col("text"),
            F.lit(" end of reprinted material"),
        ).alias("text"),
    )
    reversed_ = docs.where(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 300000).alias("doc_id"),
        F.array_join(F.reverse(F.split("text", " ")), " ").alias("text"),
    )
    batch = wrapped.unionByName(reversed_)
    index = build_fingerprint_index(docs).transform(managed_persist)
    osz = index.groupBy(F.col("doc_id").alias("old_id")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_fp_old")
    )
    fp_new = rowwise_winnowing_fingerprints(batch).select(
        F.col("doc_id").alias("new_id"), "h"
    ).distinct()
    hits = (
        fp_new.join(index.select(F.col("doc_id").alias("old_id"), "h"), "h")
        .groupBy("new_id", "old_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
    )
    return (
        hits.join(osz, "old_id")
        .withColumn(
            "containment_old",
            F.round(F.col("n_shared") / F.col("n_fp_old").cast("double"), 6),
        )
        .where(F.col("containment_old") >= 0.8)
        .select("new_id", "old_id", "n_shared", "n_fp_old", "containment_old")
    )


def _method_rel_cte_sql() -> str:
    """CTE list (no WITH keyword) building the three method pair
    relations m_exact / m_minhash / m_winnow over the dedup corpus —
    shared by q501 (precision/recall matrix) and q511 (consensus
    co-association). Rendered without MATERIALIZED only where a CTE is
    referenced once; the pair relations themselves are MATERIALIZED
    because consumers read them repeatedly."""
    from variantcalling_spark.operators.dedup import (
        MERSENNE31,
        PORTABLE_HASH_SQL,
        _minhash_coeffs,
        winnowing_sql,
    )

    p = MERSENNE31
    phash = PORTABLE_HASH_SQL.format(col="shingle")
    coeffs = _minhash_coeffs(32)
    sig_cols = ",\n         ".join(
        f"MIN((CAST({a} AS BIGINT) * v + {b}) % {p}) AS h{i}"
        for i, (a, b) in enumerate(coeffs)
    )

    def bucket_expr(b):
        acc = f"h{b * 4}"
        for r in range(1, 4):
            acc = f"(({acc}) * 8191 + h{b * 4 + r}) % {p}"
        return acc

    band_selects = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, {b} AS band, {bucket_expr(b)} AS bucket FROM sig"
        for b in range(8)
    )
    return f"""corpus AS MATERIALIZED ({SQL_CORPUS}),
m_exact AS MATERIALIZED (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM corpus a JOIN corpus b
    ON md5(a.text) = md5(b.text) AND a.doc_id < b.doc_id
),
sh AS (
  SELECT DISTINCT doc_id, shingle
  FROM (
    SELECT doc_id,
           unnest([string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1] || ' ' || string_split(text, ' ')[i+2]
                   for i in generate_series(1, len(string_split(text, ' ')) - 2)]) AS shingle
    FROM corpus
  )
),
hv AS (SELECT doc_id, {phash} AS v FROM sh),
sig AS (SELECT doc_id, {sig_cols} FROM hv GROUP BY doc_id),
bands AS (
{band_selects}
),
cands AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
shared AS (
  SELECT c.doc_a, c.doc_b, COUNT(*) AS n_shared
  FROM cands c
  JOIN sh a ON a.doc_id = c.doc_a
  JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
  GROUP BY c.doc_a, c.doc_b
),
m_minhash AS MATERIALIZED (
  SELECT s.doc_a, s.doc_b
  FROM shared s
  JOIN sizes sa ON sa.doc_id = s.doc_a
  JOIN sizes sb ON sb.doc_id = s.doc_b
  WHERE s.n_shared / CAST(sa.n_sh + sb.n_sh - s.n_shared AS DOUBLE) >= 0.6
),
{winnowing_sql("SELECT doc_id, text FROM corpus", sfx="_w")},
fph AS (SELECT DISTINCT doc_id, h FROM fp_w),
dfh AS (SELECT h, COUNT(*) AS ndocs FROM fph GROUP BY h),
kept AS (SELECT fph.doc_id, fph.h FROM fph JOIN dfh USING (h) WHERE ndocs <= 100),
wsz AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_fp FROM kept GROUP BY doc_id),
wpr AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS n_shared
  FROM kept a JOIN kept b ON a.h = b.h AND a.doc_id < b.doc_id
  GROUP BY 1, 2 HAVING COUNT(*) >= 2
),
m_winnow AS MATERIALIZED (
  SELECT w.doc_a, w.doc_b
  FROM wpr w
  JOIN wsz sa ON sa.doc_id = w.doc_a
  JOIN wsz sb ON sb.doc_id = w.doc_b
  WHERE w.n_shared / CAST(LEAST(sa.n_fp, sb.n_fp) AS DOUBLE) >= 0.5
)"""


def _method_matrix_oracle_sql() -> str:
    from variantcalling_spark.operators.dedup import (
        MERSENNE31,
        PORTABLE_HASH_SQL,
        _minhash_coeffs,
        winnowing_sql,
    )

    p = MERSENNE31
    phash = PORTABLE_HASH_SQL.format(col="shingle")
    coeffs = _minhash_coeffs(32)
    sig_cols = ",\n         ".join(
        f"MIN((CAST({a} AS BIGINT) * v + {b}) % {p}) AS h{i}"
        for i, (a, b) in enumerate(coeffs)
    )

    def bucket_expr(b):
        acc = f"h{b * 4}"
        for r in range(1, 4):
            acc = f"(({acc}) * 8191 + h{b * 4 + r}) % {p}"
        return acc

    band_selects = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, {b} AS band, {bucket_expr(b)} AS bucket FROM sig"
        for b in range(8)
    )
    arms = "\nUNION ALL\n".join(
        f"""SELECT '{label}' AS method,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM {rel}) AS n_flagged,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM {rel} m JOIN truth t
          ON t.doc_a = m.doc_a AND t.doc_b = m.doc_b) AS n_true,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM truth) AS n_truth,
       ROUND((SELECT COUNT(*) FROM {rel} m JOIN truth t
              ON t.doc_a = m.doc_a AND t.doc_b = m.doc_b)
             / CAST((SELECT COUNT(*) FROM {rel}) AS DOUBLE), 6) AS precision,
       ROUND((SELECT COUNT(*) FROM {rel} m JOIN truth t
              ON t.doc_a = m.doc_a AND t.doc_b = m.doc_b)
             / CAST((SELECT COUNT(*) FROM truth) AS DOUBLE), 6) AS recall"""
        for label, rel in (
            ("a_exact_md5", "m_exact"),
            ("b_minhash_lsh", "m_minhash"),
            ("c_winnowing", "m_winnow"),
        )
    )
    return f"""
WITH {_method_rel_cte_sql()},
truth AS (
  SELECT doc_id AS doc_a, doc_id + 200000 AS doc_b
  FROM documents WHERE doc_id % 20 = 0
  UNION ALL
  SELECT doc_id AS doc_a, doc_id + 100000 AS doc_b
  FROM documents WHERE doc_id % 10 = 0
  UNION ALL
  SELECT doc_id + 100000 AS doc_a, doc_id + 200000 AS doc_b
  FROM documents WHERE doc_id % 20 = 0
)
{arms}
"""


def _method_pair_frames(spark, sf_dir):
    """Spark side of ``_method_rel_cte_sql``: the three dedup-method
    pair relations over the augmented corpus, as DataFrames —
    (m_exact, m_minhash, m_winnow). Shared by q501/q507/q511/q517.

    Session-memoized + eagerly checkpointed (the kNN-substrate recipe,
    _memo.py): the three discoveries are the expensive part of all four
    consensus consumers, and before the memo each consumer invocation
    re-ran them — CacheManager shared the persisted frames only while
    they stayed cached, and any cache drop (clearCache between sweep
    queries, LRU eviction) re-billed the full pipelines. The pair
    frames are tiny (ids only), so the checkpoint blocks cost ~nothing;
    eager because every consumer's first job reads each frame from 2+
    DAG branches (votes union + per-method arms)."""
    from variantcalling_spark._memo import memoized

    return memoized(
        "method_pairs", spark, sf_dir, lambda: _build_method_pair_frames(spark, sf_dir)
    )


def _build_method_pair_frames(spark, sf_dir):
    from variantcalling_spark.operators.dedup import (
        jaccard_for_pairs,
        portable_band_candidates,
        portable_minhash_signatures,
        shingles,
        winnowing_fingerprints,
    )

    c = corpus(spark, sf_dir).transform(managed_persist)
    fa = c.select(F.col("doc_id").alias("doc_a"), F.md5("text").alias("fp"))
    fb = c.select(F.col("doc_id").alias("doc_b"), F.md5("text").alias("fp"))
    m_exact = fa.join(fb, "fp").where(F.col("doc_a") < F.col("doc_b")).select(
        "doc_a", "doc_b"
    )

    sh = shingles(c, n=3).transform(managed_persist)
    sigs = portable_minhash_signatures(sh, num_hashes=32)
    cands = portable_band_candidates(sigs, num_bands=8, rows_per_band=4)
    m_minhash = (
        jaccard_for_pairs(cands, sh)
        .where(F.col("jaccard") >= 0.6)
        .select("doc_a", "doc_b")
    )

    wfp = (
        winnowing_fingerprints(c, n=3, w=4)
        .select("doc_id", "h")
        .distinct()
        .transform(managed_persist)
    )
    dfh = wfp.groupBy("h").agg(F.count(F.lit(1)).alias("ndocs"))
    kept = wfp.join(dfh.where(F.col("ndocs") <= 100), "h").select("doc_id", "h")
    kept = kept.transform(managed_persist)
    wsz = kept.groupBy("doc_id").agg(F.count(F.lit(1)).cast("bigint").alias("n_fp"))
    wa = kept.select(F.col("doc_id").alias("doc_a"), "h")
    wb = kept.select(F.col("doc_id").alias("doc_b"), "h")
    wpr = (
        wa.join(wb, "h")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
        .where(F.col("n_shared") >= 2)
    )
    m_winnow = (
        wpr.join(wsz.select(F.col("doc_id").alias("doc_a"), F.col("n_fp").alias("na")), "doc_a")
        .join(wsz.select(F.col("doc_id").alias("doc_b"), F.col("n_fp").alias("nb")), "doc_b")
        .where(
            F.col("n_shared") / F.least(F.col("na"), F.col("nb")).cast("double")
            >= 0.5
        )
        .select("doc_a", "doc_b")
    )
    # eager checkpoint instead of persist: every consumer (q501 arms,
    # q511 votes + components, q517 votes + per-method partitions) reads
    # each at least twice, the discoveries are the expensive part, and
    # the memo above makes the materialization once-per-session
    m_exact = m_exact.transform(lineage_cut, eager=True)
    m_minhash = m_minhash.transform(lineage_cut, eager=True)
    m_winnow = m_winnow.transform(lineage_cut, eager=True)
    return m_exact, m_minhash, m_winnow


@query("q501_dedup_method_matrix", oracle=_method_matrix_oracle_sql())
def q501_dedup_method_matrix(spark, sf_dir):
    """DEDUP METHOD MATRIX — one precision/recall ledger for the three
    detection families against the SAME planted ground truth (exact
    copies of every 20th doc + first-word-dropped near-copies of every
    10th): exact-md5 recovers only the byte-identical arm (recall by
    DESIGN ~1/3 — the ledger row that says set-hash dedup is not
    near-dup dedup), MinHash-LSH (b=8, r=4, verify >= 0.6) and
    winnowing containment (>= 0.5, df <= 100 stop-list) both recover
    EVERY planted pair (recall 1.0; truth includes the copy-copy arm)
    at ~0.75 precision — and the residual flags are the corpus's own
    organic near-dup pairs, i.e. the denominators, not the methods,
    own the gap. The synthesis view a pipeline owner reads before
    choosing the dedup stage; every underlying method is individually
    value-oracled (q64/q66/q486), this row pins their RELATIVE
    behavior.

    Scale shape: each arm is its own already-bounded discovery
    (hash-groupBy / banded join / df-capped fingerprint join); the
    matrix adds only truth-semi-joins and count arithmetic."""
    from variantcalling_spark.operators.dedup import (
        jaccard_for_pairs,
        portable_band_candidates,
        portable_minhash_signatures,
        shingles,
        winnowing_fingerprints,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    m_exact, m_minhash, m_winnow = _method_pair_frames(spark, sf_dir)
    truth = (
        docs.where(F.col("doc_id") % 20 == 0)
        .select(
            F.col("doc_id").alias("doc_a"),
            (F.col("doc_id") + 200000).alias("doc_b"),
        )
        .unionByName(
            docs.where(F.col("doc_id") % 10 == 0).select(
                F.col("doc_id").alias("doc_a"),
                (F.col("doc_id") + 100000).alias("doc_b"),
            )
        )
        .unionByName(
            docs.where(F.col("doc_id") % 20 == 0).select(
                (F.col("doc_id") + 100000).alias("doc_a"),
                (F.col("doc_id") + 200000).alias("doc_b"),
            )
        )
        .transform(managed_persist)
    )
    n_truth = truth.agg(F.count(F.lit(1)).cast("bigint").alias("n_truth"))


    def arm(rel, label):
        flagged = rel.transform(managed_persist)
        nf = flagged.agg(F.count(F.lit(1)).cast("bigint").alias("n_flagged"))
        nt = flagged.join(truth, ["doc_a", "doc_b"], "left_semi").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_true")
        )
        return (
            nf.crossJoin(F.broadcast(nt))
            .crossJoin(F.broadcast(n_truth))
            .select(
                F.lit(label).alias("method"),
                "n_flagged",
                "n_true",
                "n_truth",
                F.round(
                    F.col("n_true") / F.col("n_flagged").cast("double"), 6
                ).alias("precision"),
                F.round(
                    F.col("n_true") / F.col("n_truth").cast("double"), 6
                ).alias("recall"),
            )
        )

    return (
        arm(m_exact, "a_exact_md5")
        .unionByName(arm(m_minhash, "b_minhash_lsh"))
        .unionByName(arm(m_winnow, "c_winnowing"))
    )


def _dp_cluster_release_oracle_sql() -> str:
    from variantcalling_spark.operators.dedup import PORTABLE_HASH_SQL

    seed_hash = PORTABLE_HASH_SQL.format(col="'dp2:' || release || ':' || cell")
    return f"""
WITH RECURSIVE corpus AS ({SQL_CORPUS}),
sh AS (
  SELECT DISTINCT doc_id, shingle
  FROM (
    SELECT doc_id,
           unnest([string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1] || ' ' || string_split(text, ' ')[i+2]
                   for i in generate_series(1, len(string_split(text, ' ')) - 2)]) AS shingle
    FROM corpus
  )
),
shsizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
shared AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
e AS (
  SELECT doc_a, doc_b FROM shared
  JOIN shsizes sa ON sa.doc_id = doc_a
  JOIN shsizes sb ON sb.doc_id = doc_b
  WHERE n_shared / CAST(sa.n_sh + sb.n_sh - n_shared AS DOUBLE) >= 0.6
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM e
  UNION
  SELECT doc_b AS src, doc_a AS dst FROM e
),
closure AS (
  SELECT src AS node, src AS reach FROM edges
  UNION
  SELECT c.node, edges.dst AS reach
  FROM closure c JOIN edges ON edges.src = c.reach
),
clusters AS (
  SELECT MIN(reach) AS cluster_id, CAST(COUNT(DISTINCT node) AS BIGINT) AS n_members
  FROM (SELECT node, MIN(reach) AS reach FROM closure GROUP BY node) labeled
  GROUP BY reach
),
rel AS (
  SELECT 'a_size_histogram' AS release, CAST(n_members AS VARCHAR) AS cell,
         CAST(COUNT(*) AS BIGINT) AS true_value,
         CAST(0.5 AS DOUBLE) AS eps, CAST(2 AS BIGINT) AS sensitivity,
         CAST(4.0 AS DOUBLE) AS scale
  FROM clusters GROUP BY n_members
  UNION ALL
  SELECT 'b_totals', 'n_clusters', CAST(COUNT(*) AS BIGINT),
         CAST(0.5 AS DOUBLE), CAST(2 AS BIGINT), CAST(4.0 AS DOUBLE)
  FROM clusters
  UNION ALL
  SELECT 'b_totals', 'n_dup_docs', CAST(SUM(n_members) AS BIGINT),
         CAST(0.5 AS DOUBLE), CAST(2 AS BIGINT), CAST(4.0 AS DOUBLE)
  FROM clusters
),
seeded AS (
  SELECT *, (({seed_hash}) * 2654435761 + 12345) % 2147483647 AS k
  FROM rel
),
noised AS (SELECT *, (k + 0.5) / 2147483648.0 AS u FROM seeded)
SELECT release, cell, true_value, eps, sensitivity, scale,
       ROUND(-scale * (CASE WHEN u >= 0.5 THEN 1.0 ELSE -1.0 END)
             * ln(1.0 - 2.0 * ABS(u - 0.5)), 6) AS noise,
       ROUND(true_value
             - scale * (CASE WHEN u >= 0.5 THEN 1.0 ELSE -1.0 END)
             * ln(1.0 - 2.0 * ABS(u - 0.5)), 6) AS noisy_value
FROM noised
"""


DP_RELEASE_EPS_TOTAL = 1.0


@query("q503_dp_cluster_release", oracle=_dp_cluster_release_oracle_sql())
def q503_dp_cluster_release(spark, sf_dir):
    """PER-CLUSTER LAPLACE RELEASE COMPOSITION — the q492 mechanism
    applied to the q98 dedup-cluster structure under ONE sequential-
    composition budget (the privacy-meets-dedup composition: a corpus
    owner wants to publish how duplicated the corpus is without
    revealing whether any ONE document is present):

    - release a_size_histogram (eps 0.5): cluster-size histogram
      (size -> n_clusters). Adding/removing one document moves a
      cluster between adjacent size cells, changing up to TWO cells by
      1 each -> L1 sensitivity 2, Laplace scale = 2/0.5 = 4.
    - release b_totals (eps 0.5): (n_clusters, n_dup_docs). One
      document can change both counts by 1 -> joint L1 sensitivity 2,
      scale 4.

    Sequential composition: total eps spent = 0.5 + 0.5 =
    ``DP_RELEASE_EPS_TOTAL`` (the budget ledger is pinned executable
    in tests, including noise = scale x unit-Laplace(u) per cell).
    As with q492, the noise here is SEEDED from the public cell key so
    the release is value-oracle-testable — this is the mechanism's
    plan shape and budget accounting, not an actual private release
    until the uniform comes from a per-release DRBG.

    Scale shape: the cluster substrate is q98's (PPJoin discovery +
    connected components — one shuffle per stage, candidate-linear);
    the release itself aggregates over the bounded cluster-size domain
    and the noise is a scan-local expression per cell."""
    from variantcalling_spark.operators.dedup import (
        connected_components,
        portable_string_hash,
        prefix_filtered_pairs,
    )

    sh = shingles(corpus(spark, sf_dir), n=3).transform(managed_persist)
    cands = prefix_filtered_pairs(sh, threshold=0.6)
    pairs = jaccard_for_pairs(cands, sh).where(F.col("jaccard") >= 0.6)
    labels = connected_components(pairs)
    clusters = labels.groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_members")
    ).transform(managed_persist)

    eps = F.lit(0.5).cast("double")
    sens = F.lit(2).cast("bigint")
    scale = F.lit(4.0).cast("double")
    hist = clusters.groupBy("n_members").agg(
        F.count(F.lit(1)).cast("bigint").alias("true_value")
    ).select(
        F.lit("a_size_histogram").alias("release"),
        F.col("n_members").cast("string").alias("cell"),
        "true_value",
        eps.alias("eps"),
        sens.alias("sensitivity"),
        scale.alias("scale"),
    )
    totals = clusters.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_clusters"),
        F.sum("n_members").cast("bigint").alias("n_dup_docs"),
    )
    b1 = totals.select(
        F.lit("b_totals").alias("release"),
        F.lit("n_clusters").alias("cell"),
        F.col("n_clusters").alias("true_value"),
        eps.alias("eps"),
        sens.alias("sensitivity"),
        scale.alias("scale"),
    )
    b2 = totals.select(
        F.lit("b_totals").alias("release"),
        F.lit("n_dup_docs").alias("cell"),
        F.col("n_dup_docs").alias("true_value"),
        eps.alias("eps"),
        sens.alias("sensitivity"),
        scale.alias("scale"),
    )
    rel = hist.unionByName(b1).unionByName(b2)

    k = (
        portable_string_hash(
            F.concat_ws(":", F.lit("dp2"), F.col("release"), F.col("cell"))
        )
        * F.lit(2654435761).cast("bigint")
        + 12345
    ) % F.lit(2147483647).cast("bigint")
    u = (k + 0.5) / F.lit(2147483648.0)
    sign = F.when(u >= 0.5, F.lit(1.0)).otherwise(F.lit(-1.0))
    lap = -F.col("scale") * sign * F.log(F.lit(1.0) - 2.0 * F.abs(u - 0.5))
    return rel.select(
        "release",
        "cell",
        "true_value",
        "eps",
        "sensitivity",
        "scale",
        F.round(lap, 6).alias("noise"),
        F.round(F.col("true_value") + lap, 6).alias("noisy_value"),
    )


def _ari_oracle_sql() -> str:
    return f"""
WITH RECURSIVE corpus AS ({SQL_CORPUS}),
sh AS (
  SELECT DISTINCT doc_id, shingle
  FROM (
    SELECT doc_id,
           unnest([string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1] || ' ' || string_split(text, ' ')[i+2]
                   for i in generate_series(1, len(string_split(text, ' ')) - 2)]) AS shingle
    FROM corpus
  )
),
shsizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
shared AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
e AS (
  SELECT doc_a, doc_b FROM shared
  JOIN shsizes sa ON sa.doc_id = doc_a
  JOIN shsizes sb ON sb.doc_id = doc_b
  WHERE n_shared / CAST(sa.n_sh + sb.n_sh - n_shared AS DOUBLE) >= 0.6
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM e
  UNION
  SELECT doc_b AS src, doc_a AS dst FROM e
),
closure AS (
  SELECT src AS node, src AS reach FROM edges
  UNION
  SELECT c.node, edges.dst AS reach
  FROM closure c JOIN edges ON edges.src = c.reach
),
comp AS (SELECT node, MIN(reach) AS label FROM closure GROUP BY node),
both_p AS (
  SELECT c.doc_id, md5(c.text) AS l1,
         COALESCE(k.label, c.doc_id) AS l2
  FROM corpus c LEFT JOIN comp k ON k.node = c.doc_id
),
cells AS (
  SELECT l1, l2, CAST(COUNT(*) AS BIGINT) AS nij FROM both_p GROUP BY l1, l2
),
sums AS (
  SELECT
    (SELECT CAST(SUM(nij * (nij - 1) // 2) AS BIGINT) FROM cells) AS sum_ij,
    (SELECT CAST(SUM(na * (na - 1) // 2) AS BIGINT)
     FROM (SELECT CAST(COUNT(*) AS BIGINT) AS na FROM both_p GROUP BY l1)) AS sum_a,
    (SELECT CAST(SUM(nb * (nb - 1) // 2) AS BIGINT)
     FROM (SELECT CAST(COUNT(*) AS BIGINT) AS nb FROM both_p GROUP BY l2)) AS sum_b,
    (SELECT CAST(COUNT(*) AS BIGINT) FROM both_p) AS n_docs
)
SELECT n_docs, sum_ij, sum_a, sum_b,
       CAST(n_docs * (n_docs - 1) // 2 AS BIGINT) AS pairs_total,
       CAST(2 * (n_docs * (n_docs - 1) // 2) * sum_ij - 2 * sum_a * sum_b
            AS BIGINT) AS ari_num2,
       CAST((n_docs * (n_docs - 1) // 2) * (sum_a + sum_b) - 2 * sum_a * sum_b
            AS BIGINT) AS ari_den2,
       ROUND(CAST(2 * (n_docs * (n_docs - 1) // 2) * sum_ij - 2 * sum_a * sum_b
                  AS DOUBLE)
             / ((n_docs * (n_docs - 1) // 2) * (sum_a + sum_b) - 2 * sum_a * sum_b),
             6) AS ari
FROM sums
"""


@query("q507_partition_agreement_ari", oracle=_ari_oracle_sql())
def q507_partition_agreement_ari(spark, sf_dir):
    """ADJUSTED RAND INDEX between two dedup partitions of the same
    corpus — the cluster-comparison metric the q501 method matrix
    lacks (q501 scores methods against planted PAIR truth; ARI asks
    how much two PARTITIONS agree, chance-corrected, no truth needed):
    exact-dup clusters (md5 fingerprint) vs near-dup clusters (q98's
    Jaccard >= 0.6 components, singletons = their own cluster).

    Hubert-Arabie pair-counting form kept EXACT: the contingency
    table, its row/column pair sums, and the 2x-scaled numerator /
    denominator (2C(n,2)SUMij - 2SUMa SUMb over C(n,2)(SUMa+SUMb) -
    2SUMa SUMb) are all bigint — the only double is the final rounded
    ratio, so the oracle pins the arithmetic, not a float trajectory.
    Expected reading: high but < 1 — near-dup clustering merges the
    exact clusters plus the planted tail-cut neighbors.

    Scale shape: one groupBy per partition + one on the (l1, l2)
    contingency — three map-side-combinable aggregates over n docs;
    the near-dup substrate is q98's candidate-linear pipeline."""
    from variantcalling_spark.operators.dedup import connected_components

    c = corpus(spark, sf_dir).transform(managed_persist)
    sh = shingles(c, n=3).transform(managed_persist)
    cands = prefix_filtered_pairs(sh, threshold=0.6)
    pairs = jaccard_for_pairs(cands, sh).where(F.col("jaccard") >= 0.6)
    comp = connected_components(pairs)
    both = (
        c.select("doc_id", F.md5("text").alias("l1"))
        .join(comp.withColumnRenamed("node", "doc_id"), "doc_id", "left")
        .select(
            "doc_id", "l1", F.coalesce("label", F.col("doc_id")).alias("l2")
        )
        .transform(managed_persist)
    )
    return _ari_ledger(both)


def _ari_ledger(both):
    """Exact Hubert-Arabie ARI ledger for one (doc_id, l1, l2)
    labeling relation — bigint pair counts, 2x-scaled integer
    numerator/denominator, one rounded double. Shared by q507 and the
    q517 consensus-vs-method arms."""

    DEC = "decimal(38,0)"

    def pair_sum(grouped, cname):
        # exact at ALL scales (r10 ADVICE): C(n,2) is computed in
        # DECIMAL(38,0) — n*(n-1) is always even so the /2 is exact —
        # and summed as decimal, never as double (double loses
        # exactness beyond ~2^53 accumulated pairs; bigint n*(n-1)
        # would wrap silently past n ~ 3e9). Output stays bigint to
        # match the oracle's BIGINT contract.
        n = F.col("n").cast(DEC)
        return grouped.agg(
            F.sum((n * (n - F.lit(1)) / F.lit(2)).cast(DEC)).cast(DEC).alias(cname)
        )

    cells = both.groupBy("l1", "l2").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    sij = pair_sum(cells, "sum_ij")
    sa = pair_sum(
        both.groupBy("l1").agg(F.count(F.lit(1)).cast("bigint").alias("n")), "sum_a"
    )
    sb = pair_sum(
        both.groupBy("l2").agg(F.count(F.lit(1)).cast("bigint").alias("n")), "sum_b"
    )
    nd = both.agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    ndd = F.col("n_docs").cast(DEC)
    tot = (ndd * (ndd - F.lit(1)) / F.lit(2)).cast(DEC)
    # num2/den2 multiply C(n,2)-scale quantities — products stay in
    # DECIMAL(38,0) so an overflow surfaces (null/error) instead of
    # wrapping the way bigint would; final bigint cast mirrors the
    # oracle's output type
    sum_ij_d = F.col("sum_ij").cast(DEC)
    sum_a_d = F.col("sum_a").cast(DEC)
    sum_b_d = F.col("sum_b").cast(DEC)
    num2 = F.lit(2).cast(DEC) * tot * sum_ij_d - F.lit(2).cast(DEC) * sum_a_d * sum_b_d
    den2 = tot * (sum_a_d + sum_b_d) - F.lit(2).cast(DEC) * sum_a_d * sum_b_d
    return (
        nd.crossJoin(F.broadcast(sij))
        .crossJoin(F.broadcast(sa))
        .crossJoin(F.broadcast(sb))
        .select(
            "n_docs",
            F.col("sum_ij").cast("bigint").alias("sum_ij"),
            F.col("sum_a").cast("bigint").alias("sum_a"),
            F.col("sum_b").cast("bigint").alias("sum_b"),
            tot.cast("bigint").alias("pairs_total"),
            num2.cast("bigint").alias("ari_num2"),
            den2.cast("bigint").alias("ari_den2"),
            F.round(num2.cast("double") / den2.cast("double"), 6).alias("ari"),
        )
    )


def _consensus_oracle_sql() -> str:
    return f"""
WITH RECURSIVE {_method_rel_cte_sql()},
votes AS MATERIALIZED (
  SELECT doc_a, doc_b, CAST(COUNT(*) AS BIGINT) AS votes FROM (
    SELECT doc_a, doc_b FROM m_exact
    UNION ALL SELECT doc_a, doc_b FROM m_minhash
    UNION ALL SELECT doc_a, doc_b FROM m_winnow
  ) GROUP BY doc_a, doc_b
),
maj AS MATERIALIZED (SELECT doc_a, doc_b FROM votes WHERE votes >= 2),
edges2 AS MATERIALIZED (
  SELECT doc_a AS src, doc_b AS dst FROM maj
  UNION
  SELECT doc_b AS src, doc_a AS dst FROM maj
),
closure2 AS (
  SELECT src AS node, src AS reach FROM edges2
  UNION
  SELECT c.node, edges2.dst AS reach
  FROM closure2 c JOIN edges2 ON edges2.src = c.reach
),
comp2 AS MATERIALIZED (SELECT node, MIN(reach) AS label FROM closure2 GROUP BY node),
cons AS (
  SELECT CAST(COUNT(DISTINCT label) AS BIGINT) AS n_clusters,
         CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM comp2
)
SELECT CAST(v.votes AS INT) AS votes, CAST(COUNT(*) AS BIGINT) AS n_pairs,
       (SELECT n_clusters FROM cons) AS n_consensus_clusters,
       (SELECT n_docs FROM cons) AS n_docs_in_consensus
FROM votes v GROUP BY v.votes ORDER BY votes
"""


@query("q511_consensus_coassociation", oracle=_consensus_oracle_sql())
def q511_consensus_coassociation(spark, sf_dir):
    """CONSENSUS CO-ASSOCIATION across the three dedup methods — the
    ensemble step on top of q501's per-method matrix (Strehl/Ghosh
    cluster-ensemble idea in its pair-counting form): every unordered
    doc pair gets one VOTE per method that flags it (exact md5,
    MinHash-LSH verify >= 0.6, winnowing containment >= 0.5), the
    votes histogram shows where the methods agree and disagree, and
    the MAJORITY (>= 2 votes) pairs fold into consensus clusters via
    connected components. Majority voting suppresses each method's
    private false positives (a single method's organic near-dup flags
    sit at votes = 1) while keeping every planted pair (both near-dup
    methods see them: votes >= 2).

    Scale shape: each method relation is its own bounded discovery
    (q501's arms, shared helper); the vote fold is one groupBy over
    their union; components run on the majority pairs only — a far
    sparser graph than any single method's."""
    from variantcalling_spark.operators.dedup import connected_components

    m_exact, m_minhash, m_winnow = _method_pair_frames(spark, sf_dir)
    votes = (
        m_exact.select("doc_a", "doc_b")
        .unionByName(m_minhash.select("doc_a", "doc_b"))
        .unionByName(m_winnow.select("doc_a", "doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("votes"))
        # lazy checkpoint: votes feeds the histogram AND the majority
        # graph whose connected components iterate — cutting lineage
        # here keeps the three method pipelines out of every consumer's
        # static plan (was 265 Exchange nodes; the campaign recipe)
        .transform(lineage_cut)
    )
    hist = votes.groupBy("votes").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs")
    )
    maj = votes.where(F.col("votes") >= 2).select("doc_a", "doc_b")
    comp = connected_components(maj)
    cons = comp.agg(
        F.countDistinct("label").cast("bigint").alias("n_consensus_clusters"),
        F.count(F.lit(1)).cast("bigint").alias("n_docs_in_consensus"),
    )
    return (
        hist.crossJoin(F.broadcast(cons))
        .select(
            F.col("votes").cast("int").alias("votes"),
            "n_pairs",
            "n_consensus_clusters",
            "n_docs_in_consensus",
        )
        .orderBy("votes")
    )


def _consensus_ari_oracle_sql() -> str:
    def closure(name, pairs_rel):
        return f"""
e_{name} AS MATERIALIZED (
  SELECT doc_a AS src, doc_b AS dst FROM {pairs_rel}
  UNION
  SELECT doc_b AS src, doc_a AS dst FROM {pairs_rel}
),
c_{name} AS (
  SELECT src AS node, src AS reach FROM e_{name}
  UNION
  SELECT c.node, e_{name}.dst AS reach
  FROM c_{name} c JOIN e_{name} ON e_{name}.src = c.reach
),
p_{name} AS MATERIALIZED (
  SELECT c.doc_id,
         COALESCE(k.label, c.doc_id) AS lab
  FROM corpus c LEFT JOIN (
    SELECT node, MIN(reach) AS label FROM c_{name} GROUP BY node
  ) k ON k.node = c.doc_id
)"""

    def arm(method, name):
        return f"""SELECT '{method}' AS method, n_docs, sum_ij, sum_a, sum_b,
       CAST(2 * (n_docs * (n_docs - 1) // 2) * sum_ij - 2 * sum_a * sum_b
            AS BIGINT) AS ari_num2,
       CAST((n_docs * (n_docs - 1) // 2) * (sum_a + sum_b) - 2 * sum_a * sum_b
            AS BIGINT) AS ari_den2,
       ROUND(CAST(2 * (n_docs * (n_docs - 1) // 2) * sum_ij - 2 * sum_a * sum_b
                  AS DOUBLE)
             / ((n_docs * (n_docs - 1) // 2) * (sum_a + sum_b)
                - 2 * sum_a * sum_b), 6) AS ari
FROM (
  SELECT
    (SELECT CAST(SUM(nij * (nij - 1) // 2) AS BIGINT) FROM (
       SELECT CAST(COUNT(*) AS BIGINT) AS nij
       FROM p_cons a JOIN p_{name} b USING (doc_id)
       GROUP BY a.lab, b.lab)) AS sum_ij,
    (SELECT CAST(SUM(na * (na - 1) // 2) AS BIGINT) FROM (
       SELECT CAST(COUNT(*) AS BIGINT) AS na FROM p_cons GROUP BY lab)) AS sum_a,
    (SELECT CAST(SUM(nb * (nb - 1) // 2) AS BIGINT) FROM (
       SELECT CAST(COUNT(*) AS BIGINT) AS nb FROM p_{name} GROUP BY lab)) AS sum_b,
    (SELECT CAST(COUNT(*) AS BIGINT) FROM corpus) AS n_docs
)"""

    arms = "\nUNION ALL\n".join(
        arm(m, n)
        for m, n in (
            ("a_exact_md5", "ex"),
            ("b_minhash_lsh", "mh"),
            ("c_winnowing", "wn"),
        )
    )
    return f"""
WITH RECURSIVE {_method_rel_cte_sql()},
votes AS MATERIALIZED (
  SELECT doc_a, doc_b, CAST(COUNT(*) AS BIGINT) AS votes FROM (
    SELECT doc_a, doc_b FROM m_exact
    UNION ALL SELECT doc_a, doc_b FROM m_minhash
    UNION ALL SELECT doc_a, doc_b FROM m_winnow
  ) GROUP BY doc_a, doc_b
),
maj AS MATERIALIZED (SELECT doc_a, doc_b FROM votes WHERE votes >= 2),
{closure("cons", "maj")},
{closure("ex", "m_exact")},
{closure("mh", "m_minhash")},
{closure("wn", "m_winnow")}
SELECT * FROM ({arms}) ORDER BY method
"""


@query("q517_consensus_ari", oracle=_consensus_ari_oracle_sql())
def q517_consensus_ari(spark, sf_dir):
    """CONSENSUS-vs-METHOD AGREEMENT — the q507 ARI machinery pointed
    at the q511 ensemble: how far is each single method's PARTITION
    (its pairs folded to components, singletons their own cluster)
    from the majority-vote consensus partition, chance-corrected?
    This is the number that justifies (or indicts) running one method
    alone at scale: a method whose ARI vs consensus is ~1 is a cheap
    stand-in for the ensemble; exact-md5's gap quantifies exactly the
    near-dup structure set-hash dedup cannot see.

    Exactness: all three arms share the q507 ledger — bigint pair
    counts, 2x-scaled integer ARI numerator/denominator, one rounded
    double per row.

    Scale shape: three bounded method discoveries (shared helper, each
    candidate-linear), four component folds on sparse pair graphs, and
    per arm one contingency groupBy — every aggregate map-side
    combinable; no collect beyond the operators' bounded convergence
    counters."""
    from variantcalling_spark.operators.dedup import connected_components

    m_exact, m_minhash, m_winnow = _method_pair_frames(spark, sf_dir)
    c = corpus(spark, sf_dir).transform(managed_persist)
    universe = c.select("doc_id")

    votes = (
        m_exact.select("doc_a", "doc_b")
        .unionByName(m_minhash.select("doc_a", "doc_b"))
        .unionByName(m_winnow.select("doc_a", "doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("votes"))
    )
    maj = votes.where(F.col("votes") >= 2).select("doc_a", "doc_b")

    # r11 optimization: ONE namespaced component fold for all four pair
    # graphs (consensus + three methods) instead of four separate
    # iterative folds — edges live in disjoint id namespaces
    # (node' = mi * OFF + doc_id), so components never cross graphs,
    # and the driver pays one convergence loop instead of four. min-label decodes exactly: within a
    # namespace every node shares the mi * OFF offset, so
    # label' % OFF == the per-graph min doc_id.
    OFF = 1 << 40  # doc ids are far below 2^40; 4 * OFF fits bigint
    rels = ((0, maj), (1, m_exact), (2, m_minhash), (3, m_winnow))
    ns_pairs = None
    for mi, rel in rels:
        p = rel.select(
            (F.lit(mi).cast("bigint") * OFF + F.col("doc_a")).alias("doc_a"),
            (F.lit(mi).cast("bigint") * OFF + F.col("doc_b")).alias("doc_b"),
        )
        ns_pairs = p if ns_pairs is None else ns_pairs.unionByName(p)
    lab = connected_components(ns_pairs).select(
        F.expr(f"CAST(node DIV {OFF} AS INT)").alias("mi"),
        (F.col("node") % OFF).alias("doc_id"),
        (F.col("label") % OFF).alias("lab"),
    )

    # long-form partition labels: (mi, doc_id, l) over the full corpus
    # universe for each graph, singletons their own cluster — one join
    # instead of four per-arm universe joins
    mi_df = spark.range(4).select(F.col("id").cast("int").alias("mi"))
    long = (
        universe.crossJoin(F.broadcast(mi_df))
        .join(lab, ["mi", "doc_id"], "left")
        .select("mi", "doc_id", F.coalesce("lab", F.col("doc_id")).alias("l"))
        .transform(managed_persist)
    )
    cons = long.where(F.col("mi") == 0).select("doc_id", F.col("l").alias("l1"))
    arms = long.where(F.col("mi") > 0).select(
        "mi", "doc_id", F.col("l").alias("l2")
    )
    both = cons.join(arms, "doc_id")

    # the q507 ledger computed once, keyed by method: same DECIMAL(38,0)
    # pair-count arithmetic as _ari_ledger, with sum_a (consensus-side)
    # computed once — it is method-independent
    DEC = "decimal(38,0)"

    def pair_sum(grouped, cname):
        n = F.col("n").cast(DEC)
        return grouped.agg(
            F.sum((n * (n - F.lit(1)) / F.lit(2)).cast(DEC)).cast(DEC).alias(cname)
        )

    cells = both.groupBy("mi", "l1", "l2").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    sij = pair_sum(cells.groupBy("mi"), "sum_ij")
    sb = pair_sum(
        both.groupBy("mi", "l2")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .groupBy("mi"),
        "sum_b",
    )
    sa = pair_sum(
        cons.groupBy("l1").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .groupBy(),
        "sum_a",
    )
    nd = universe.agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))

    ndd = F.col("n_docs").cast(DEC)
    tot = (ndd * (ndd - F.lit(1)) / F.lit(2)).cast(DEC)
    sum_ij_d = F.col("sum_ij").cast(DEC)
    sum_a_d = F.col("sum_a").cast(DEC)
    sum_b_d = F.col("sum_b").cast(DEC)
    num2 = (
        F.lit(2).cast(DEC) * tot * sum_ij_d
        - F.lit(2).cast(DEC) * sum_a_d * sum_b_d
    )
    den2 = tot * (sum_a_d + sum_b_d) - F.lit(2).cast(DEC) * sum_a_d * sum_b_d
    method = (
        F.when(F.col("mi") == 1, "a_exact_md5")
        .when(F.col("mi") == 2, "b_minhash_lsh")
        .otherwise("c_winnowing")
    )
    return (
        sij.join(sb, "mi")
        .crossJoin(F.broadcast(sa))
        .crossJoin(F.broadcast(nd))
        .select(
            method.alias("method"),
            "n_docs",
            F.col("sum_ij").cast("bigint").alias("sum_ij"),
            F.col("sum_a").cast("bigint").alias("sum_a"),
            F.col("sum_b").cast("bigint").alias("sum_b"),
            num2.cast("bigint").alias("ari_num2"),
            den2.cast("bigint").alias("ari_den2"),
            F.round(num2.cast("double") / den2.cast("double"), 6).alias("ari"),
        )
        .orderBy("method")
    )
