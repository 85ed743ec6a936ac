"""Document deduplication operators: exact, n-gram Jaccard, MinHash-LSH,
SimHash.

The large-scale training-data dedup family (BASELINE.json north star).
All are pure DataFrame plans:

- exact: hash-groupBy on a normalized fingerprint — one shuffle.
- n-gram Jaccard: explode distinct shingles -> self-join on shingle ->
  per-pair intersection counts -> |A∩B| / (|A|+|B|-|A∩B|). Exact but
  O(sum of per-shingle doc-frequency^2) — the verification step, not the
  discovery step, at scale.
- MinHash-LSH: k min-hashes per doc (engine-portable md5-derived hash +
  affine permutations mod 2^31-1), banded into b bands of r rows; docs
  sharing any band bucket become candidate pairs; candidates are
  verified with exact Jaccard. Discovery cost is linear in corpus size;
  only near-duplicates collide — and every stage is value-reproducible
  in ANSI SQL, so the oracle checks discovery, not just verification.
- SimHash: sign-aggregated weighted word-hash bits -> signature;
  near-dups have small Hamming distance.
- Connected components: alternating star contraction folds verified
  pairs into duplicate clusters (the keep-one-canonical endgame).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from variantcalling_spark._persist import lineage_cut, managed_persist


def shingles(df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3) -> DataFrame:
    """Distinct word n-gram shingles per document: (id, shingle).

    The split is materialized in its own projection so codegen computes
    it once per row; referencing the raw ``split(text)`` expression
    inside the transform lambda re-evaluates the split per element —
    O(words^2) per doc and ~10x slower end-to-end.
    """
    tok = df.select(
        F.col(id_col).alias("doc_id"), F.split(F.col(text_col), " ").alias("ws")
    )
    ws = F.col("ws")
    k = F.size(ws) - (n - 1)
    # guard: Spark's sequence(1, 0) yields a DESCENDING [1, 0] (DuckDB's
    # generate_series yields empty) — docs shorter than n words must
    # produce no shingles, not crash element_at
    idx = F.when(k >= 1, F.sequence(F.lit(1), k)).otherwise(
        F.array().cast("array<int>")
    )
    sh = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", *[F.element_at(ws, i + j) for j in range(n)]
        ),
    )
    return tok.select(
        "doc_id", F.explode(F.array_distinct(sh)).alias("shingle")
    )


def exact_dedup_clusters(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact-duplicate clusters keyed by md5 of the raw text.

    Returns (fingerprint, cluster_size, canonical_id): canonical is the
    min id — a deterministic keep-one policy. One hash-shuffle, scales
    to any corpus (the fingerprint is 128 bits regardless of doc size).
    """
    return (
        df.select(F.col(id_col).alias("doc_id"), F.md5(F.col(text_col)).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.count(F.lit(1)).alias("cluster_size"),
            F.min("doc_id").alias("canonical_id"),
        )
    )


def jaccard_pairs(
    sh: DataFrame, min_jaccard: float = 0.0
) -> DataFrame:
    """Exact n-gram Jaccard for all pairs sharing >= 1 shingle.

    Input: (doc_id, shingle) distinct. Output: (doc_a, doc_b, n_a, n_b,
    n_shared, jaccard) with doc_a < doc_b. Integer-exact arithmetic, so
    results are deterministic across engines and partitionings.
    """
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    shared = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    out = (
        shared.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.col("n_shared")
            / (F.col("n_a") + F.col("n_b") - F.col("n_shared")).cast("double"),
        )
    )
    return out.where(F.col("jaccard") >= min_jaccard).select(
        "doc_a", "doc_b", "n_a", "n_b", "n_shared", "jaccard"
    )


def jaccard_for_pairs(pairs: DataFrame, sh: DataFrame) -> DataFrame:
    """Exact Jaccard for a GIVEN candidate pair set (the LSH verify step).

    Unlike ``jaccard_pairs`` (all pairs sharing a shingle — quadratic in
    per-shingle document frequency), this collects each doc's shingle
    set once (one shuffle, one array row per doc) and joins only the
    candidate pairs against it: cost O(|docs| + |candidates|), with the
    intersection computed by ``array_intersect`` per pair. Docs are
    individually bounded, so the per-doc array never approaches executor
    memory even at corpus scale — the verification path that keeps
    MinHash-LSH / prefix-filter dedup linear end-to-end at 100 TB.
    """
    # both join sides read this one aggregate; over an uncached ``sh``
    # AQE's exchange reuse runs its collect_set shuffle once (a caller
    # that caches ``sh`` gets one collect_set per side instead)
    sets = sh.groupBy("doc_id").agg(F.collect_set("shingle").alias("sh_set"))
    sa = sets.select(
        F.col("doc_id").alias("doc_a"), F.col("sh_set").alias("set_a")
    )
    sb = sets.select(
        F.col("doc_id").alias("doc_b"), F.col("sh_set").alias("set_b")
    )
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size("set_a").cast("long").alias("n_a"),
            F.size("set_b").cast("long").alias("n_b"),
            F.size(F.array_intersect("set_a", "set_b")).cast("long").alias("n_shared"),
        )
        .withColumn(
            "jaccard",
            F.col("n_shared")
            / (F.col("n_a") + F.col("n_b") - F.col("n_shared")).cast("double"),
        )
    )


def _df_ranked_shingles(sh: DataFrame) -> DataFrame:
    """Shared scaffolding of the prefix-filter family: each doc's
    shingles ranked by ascending global document frequency (rare
    first), carrying the doc's shingle count. Both window columns share
    one partitioning+ordering, so Catalyst evaluates them in a single
    Window node — one shuffle+sort instead of two (the count uses an
    unbounded frame over the same spec). The ``rk <= n_sh -
    ceil(t*n_sh) + 1`` prefix predicate applied on top is what the
    symmetric (Jaccard) and asymmetric (containment) filters share."""
    from pyspark.sql import Window

    doc_freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    w_ordered = Window.partitionBy("doc_id").orderBy("df", "shingle")
    return (
        sh.join(doc_freq, "shingle")
        .withColumn(
            "n_sh",
            F.count(F.lit(1)).over(
                w_ordered.rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
            ),
        )
        .withColumn("rk", F.row_number().over(w_ordered))
    )


def prefix_filtered_pairs(sh: DataFrame, threshold: float) -> DataFrame:
    """Exact candidate discovery via prefix + length filtering (the
    PPJoin/AllPairs family) for a Jaccard threshold ``t``.

    Order each doc's shingles by ascending global document frequency;
    if Jaccard(A,B) >= t, then A and B must share at least one shingle
    within each one's first ``n - ceil(t*n) + 1`` shingles (else the
    intersection is too small), and their sizes must satisfy
    ``t*n_a <= n_b <= n_a/t``. Both filters are *lossless*: every pair
    at-or-above threshold survives, so verify(candidates) == all-pairs.

    The self-join runs only over the rare-shingle prefixes, collapsing
    the O(sum df^2) all-pairs shingle join to near-linear — the exact-
    dedup path that survives a 100x corpus scale-up.
    """
    ranked = _df_ranked_shingles(sh)
    # the prefix table feeds BOTH sides of the self-join below. Exchange
    # reuse would rank the corpus once, but it does not fire when the
    # caller has cached ``sh`` (each cached reference becomes its own
    # table-cache query stage); without this persist q65 measured 14 -> 19
    # stages and 1.84 -> 2.78 MB shuffle at sf0.01, q494 36 -> 51 stages
    prefix = (
        ranked.where(
            F.col("rk")
            <= F.col("n_sh") - F.ceil(F.lit(threshold) * F.col("n_sh")) + 1
        )
        .select("doc_id", "shingle", "n_sh", "rk")
        .transform(managed_persist)
    )
    a = prefix.select(
        F.col("doc_id").alias("doc_a"),
        F.col("shingle").alias("sh_a"),
        F.col("n_sh").alias("n_a"),
        F.col("rk").alias("rk_a"),
    )
    b = prefix.select(
        F.col("doc_id").alias("doc_b"),
        F.col("shingle").alias("sh_b"),
        F.col("n_sh").alias("n_b"),
        F.col("rk").alias("rk_b"),
    )
    # positional filter (PPJoin): matching at prefix ranks (rk_a, rk_b)
    # caps the achievable overlap at min(n_a - rk_a, n_b - rk_b) + 1,
    # which must reach the Jaccard-implied minimum t/(1+t)*(n_a+n_b)
    min_overlap = F.ceil(
        F.lit(threshold / (1.0 + threshold)) * (F.col("n_a") + F.col("n_b"))
    )
    return (
        a.join(
            b,
            (F.col("sh_a") == F.col("sh_b"))
            & (F.col("doc_a") < F.col("doc_b"))
            & (F.col("n_b") >= F.ceil(F.lit(threshold) * F.col("n_a")))
            & (F.col("n_a") >= F.ceil(F.lit(threshold) * F.col("n_b")))
            & (
                F.least(F.col("n_a") - F.col("rk_a"), F.col("n_b") - F.col("rk_b"))
                + 1
                >= min_overlap
            ),
        )
        .select("doc_a", "doc_b")
        .distinct()
    )


def containment_candidate_pairs(sh: DataFrame, threshold: float) -> DataFrame:
    """Lossless candidate discovery for shingle CONTAINMENT
    ``|A∩B| / |A| >= t`` — the asymmetric relation behind quote /
    excerpt / subset detection, where Jaccard fails (a short passage
    fully contained in a long document has tiny Jaccard but containment
    ~1).

    Asymmetric prefix filter: if ``|A∩B| >= ceil(t*|A|)`` then at most
    ``|A| - ceil(t*|A|)`` of A's shingles miss B, so A's first
    ``|A| - ceil(t*|A|) + 1`` shingles in ascending global-df order
    must hit B (pigeonhole) — only the CONTAINED side prunes to its
    prefix; the container side keeps all shingles but pays no window.
    Size filter: ``|B| >= ceil(t*|A|)`` (intersection can't exceed
    |B|). Both lossless, so verify(candidates) == all-pairs. Returns
    directed (doc_a = contained candidate, doc_b = container)."""
    ranked = _df_ranked_shingles(sh)
    a = ranked.where(
        F.col("rk")
        <= F.col("n_sh") - F.ceil(F.lit(threshold) * F.col("n_sh")) + 1
    ).select(
        F.col("doc_id").alias("doc_a"),
        F.col("shingle").alias("sh_a"),
        F.col("n_sh").alias("n_a"),
    )
    b = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_b")).join(
        sh, "doc_id"
    ).select(
        F.col("doc_id").alias("doc_b"),
        F.col("shingle").alias("sh_b"),
        "n_b",
    )
    return (
        a.join(
            b,
            (F.col("sh_a") == F.col("sh_b"))
            & (F.col("doc_a") != F.col("doc_b"))
            & (F.col("n_b") >= F.ceil(F.lit(threshold) * F.col("n_a"))),
        )
        .select("doc_a", "doc_b")
        .distinct()
    )


def minhash_signatures(sh: DataFrame, num_hashes: int = 32) -> DataFrame:
    """k-permutation MinHash signature per doc as an array<bigint>.

    min over shingles of xxhash64(shingle, seed_i) approximates a random
    permutation minimum; P(signature slot i collides) equals the Jaccard
    similarity. Expressed as ``num_hashes`` plain MIN aggregations, so
    map-side partial aggregation applies and the shuffle carries one row
    per doc, not one per shingle — the 100 TB-friendly form.
    """
    cols = [
        F.min(F.xxhash64(F.col("shingle"), F.lit(i))).alias(f"h{i}")
        for i in range(num_hashes)
    ]
    agg = sh.groupBy("doc_id").agg(*cols)
    return agg.select(
        "doc_id", F.array(*[f"h{i}" for i in range(num_hashes)]).alias("signature")
    )


def lsh_candidate_pairs(
    signatures: DataFrame, num_bands: int = 8, rows_per_band: int = 4
) -> DataFrame:
    """Banded LSH: docs sharing any band bucket become candidate pairs.

    Each band's bucket key hashes ``rows_per_band`` consecutive signature
    slots; the self-join runs per (band, bucket) — an equi-join that
    shuffle-partitions evenly. Output: distinct (doc_a < doc_b).
    """
    bands = signatures.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            *[
                                F.element_at("signature", b * rows_per_band + r + 1)
                                for r in range(rows_per_band)
                            ]
                        ).alias("bucket"),
                    )
                    for b in range(num_bands)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "bb.band", "bb.bucket")
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 32) -> DataFrame:
    """Weighted SimHash signature per document.

    Each word contributes its count to bit j: +w if bit j of the word
    hash is set, else -w; the signature bit is 1 where the total is
    positive. Near-duplicate docs differ in few bits. Expressed as
    explode -> per-bit conditional SUM aggregations (map-side
    combinable), then bit-assembled — no UDF.

    The word hash is the engine-portable char-fold (31 usable bits)
    extended by one affine rehash for bits 31..61 (bits <= 62), so the
    signature — and therefore the whole banded discovery query — is
    value-reproducible in ANSI SQL.
    """
    words = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.split(F.col(text_col), " ")).alias("w"),
    ).groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("cnt"))
    v = portable_string_hash(F.col("w"))
    v2 = (F.lit(1103515245).cast("bigint") * v + 12345) % MERSENNE31

    def word_bit(j):
        src, off = (v, j) if j < 31 else (v2, j - 31)
        return F.shiftright(src, off).bitwiseAND(F.lit(1))

    aggs = [
        F.sum(
            F.when(word_bit(j) == 1, F.col("cnt")).otherwise(-F.col("cnt"))
        ).alias(f"b{j}")
        for j in range(bits)
    ]
    per_bit = words.groupBy("doc_id").agg(*aggs)
    sig = None
    for j in range(bits):
        term = F.when(F.col(f"b{j}") > 0, F.lit(2**j).cast("bigint")).otherwise(F.lit(0).cast("bigint"))
        sig = term if sig is None else sig + term
    return per_bit.select("doc_id", sig.alias("simhash"))


def hamming64(a, b):
    return F.bit_count(a.bitwiseXOR(b))


# ---------------------------------------------------------------------------
# Engine-portable MinHash (identical bits on Spark and DuckDB/ANSI SQL)
# ---------------------------------------------------------------------------

MERSENNE31 = 2147483647  # 2^31 - 1


def _minhash_coeffs(num_hashes: int) -> list[tuple[int, int]]:
    """Fixed affine coefficients (a_i, b_i) for the universal family
    h_i(v) = (a_i*v + b_i) mod p. Deterministic LCG-generated so the SQL
    oracle embeds the same literals."""
    out = []
    for i in range(num_hashes):
        a = (1103515245 * (i + 1) + 12345) % MERSENNE31 or 1
        b = (69069 * (i + 1) + 1) % MERSENNE31
        out.append((a, b))
    return out


def portable_string_hash(col):
    """Engine-portable string hash mod 2^31-1: the first 8 hex digits of
    md5, parsed as an integer. md5 is identical everywhere; Spark parses
    with native ``conv`` (JVM codegen — ~4x faster than an interpreted
    higher-order char fold over the whole string), DuckDB with an 8-char
    hex fold. Uniform by construction (md5), so minhash/simhash quality
    does not depend on input length or alphabet."""
    return (
        F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("bigint") % MERSENNE31
    )


# DuckDB rendering of ``portable_string_hash`` (same bits)
PORTABLE_HASH_SQL = (
    "list_reduce(list_transform(string_split(substr(md5({col}), 1, 8), ''), "
    "c -> CAST(CASE WHEN ascii(c) >= 97 THEN ascii(c) - 87 "
    "ELSE ascii(c) - 48 END AS BIGINT)), (a, b) -> a * 16 + b) % 2147483647"
)


def portable_minhash_signatures(sh: DataFrame, num_hashes: int = 32) -> DataFrame:
    """MinHash signature with an engine-portable hash family: one
    char-fold value v per shingle, then k affine permutations
    (a_i*v + b_i) mod 2^31-1 minimized per doc. Same map-side-combinable
    MIN-aggregation shape as ``minhash_signatures`` (one shuffled row
    per doc), but every bit reproducible in ANSI SQL — the whole LSH
    dedup path becomes oracle-checkable instead of rows-only."""
    v = portable_string_hash(F.col("shingle"))
    coeffs = _minhash_coeffs(num_hashes)
    hashed = sh.select("doc_id", v.alias("v"))
    cols = [
        F.min((F.lit(a).cast("bigint") * F.col("v") + F.lit(b)) % MERSENNE31).alias(
            f"h{i}"
        )
        for i, (a, b) in enumerate(coeffs)
    ]
    agg = hashed.groupBy("doc_id").agg(*cols)
    return agg.select(
        "doc_id", F.array(*[f"h{i}" for i in range(num_hashes)]).alias("signature")
    )


def _portable_bucket_expr(b: int, rows_per_band: int):
    """Portable bucket key for band ``b``: the band's signature slots
    folded by acc*8191 + slot mod 2^31-1 (max interim value
    < p * 8192 < 2^44 — exact in 64-bit on both engines)."""
    acc = F.element_at("signature", b * rows_per_band + 1)
    for r in range(1, rows_per_band):
        acc = (
            acc * 8191 + F.element_at("signature", b * rows_per_band + r + 1)
        ) % MERSENNE31
    return acc


def portable_band_buckets(
    signatures: DataFrame, num_bands: int = 8, rows_per_band: int = 4
) -> DataFrame:
    """(doc_id, band, bucket) rows with the portable bucket key."""
    return signatures.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        _portable_bucket_expr(b, rows_per_band).alias("bucket"),
                    )
                    for b in range(num_bands)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "bb.band", "bb.bucket")


def planned_minhash_bands_for_recall(
    threshold: float,
    target_recall: float,
    rows_per_band: int = 4,
    max_bands: int = 16,
) -> int:
    """The q497 planner loop CLOSED for the MinHash family — the exact
    mirror of the cosine side's ``planned_bands_for_recall``
    (operators/similarity.py): pick the number of OR-ed bands so a true
    pair sitting AT ``threshold`` Jaccard is discovered with
    probability >= ``target_recall``, given ``rows_per_band`` minhash
    rows per band.

    MinHash S-curve (validated empirically by q495): one band collides
    with probability j^r, b OR-ed bands discover with 1-(1-j^r)^b, so

        b = ceil( ln(1 - target) / ln(1 - threshold^r) )

    Pairs above the threshold collide with strictly higher probability,
    so the target is a floor over the whole true-pair set — priced at
    the worst true pair, the same conservative stance as q497's grid
    (which maximizes predicted recall under an fp-rate cap).
    ``max_bands`` caps signature cost (b*r hashes); an infeasible
    (threshold, recall, r) point raises rather than silently
    under-recalling."""
    import math

    if not (0.0 < target_recall < 1.0):
        raise ValueError("target_recall must be in (0, 1)")
    if not (0.0 < threshold < 1.0):
        raise ValueError("threshold must be in (0, 1)")
    per_band = threshold**rows_per_band
    b = max(
        1, math.ceil(math.log(1.0 - target_recall) / math.log(1.0 - per_band))
    )
    if b > max_bands:
        raise ValueError(
            f"target recall {target_recall} at Jaccard {threshold} needs {b} "
            f"bands of {rows_per_band} rows (> max_bands={max_bands}); "
            "use fewer rows per band or relax the target"
        )
    return b


def planned_minhash_candidates(
    sh: DataFrame,
    threshold: float = 0.6,
    target_recall: float = 0.95,
    rows_per_band: int = 4,
    max_bands: int = 16,
) -> tuple[DataFrame, int]:
    """PLANNER-DRIVEN MinHash candidate generation — the q514 production
    face for this family: a stated recall floor becomes the band count
    via ``planned_minhash_bands_for_recall``, the signature is sized to
    exactly b*r hashes (no over-hashing), and candidates come from the
    same first-colliding-band pipeline as the shipped 8x4 default. A
    target whose plan lands on 8 bands is output-identical to
    ``portable_minhash_signatures(sh, 32)`` +
    ``portable_band_candidates(sig, 8, 4)`` (pinned in tests). Returns
    (candidates, n_bands) so callers can ledger the plan."""
    b = planned_minhash_bands_for_recall(
        threshold, target_recall, rows_per_band, max_bands
    )
    sig = portable_minhash_signatures(sh, num_hashes=b * rows_per_band)
    return (
        portable_band_candidates(sig, num_bands=b, rows_per_band=rows_per_band),
        b,
    )


def portable_band_candidates(
    signatures: DataFrame, num_bands: int = 8, rows_per_band: int = 4
) -> DataFrame:
    """Unique candidate pairs (doc_a < doc_b) colliding in >= 1 band.

    The q74 recipe applied to MinHash: both self-join sides read one
    band projection of the signatures (AQE reuses its exchange unless
    the signatures' input is cached), all band buckets ride the explode
    as one array, and a pair is emitted only from its FIRST colliding
    band (a codegen filter over the carried bucket arrays) — so no
    ``distinct()`` re-shuffle after the join and no redundant pairs
    enter the verify stage. Output-identical to
    ``portable_band_buckets`` + self-join + distinct."""
    ba = signatures.select(
        "doc_id",
        F.array(
            *[_portable_bucket_expr(b, rows_per_band) for b in range(num_bands)]
        ).alias("buckets"),
    )
    bands = ba.select(
        "doc_id", "buckets", F.posexplode("buckets").alias("band", "bucket")
    )
    a, b = bands.alias("a"), bands.alias("b")
    first_collision = F.forall(
        F.zip_with(
            F.slice(F.col("a.buckets"), 1, F.col("a.band")),
            F.slice(F.col("b.buckets"), 1, F.col("b.band")),
            lambda x, y: x != y,
        ),
        lambda differs: differs,
    )
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .where(first_collision)
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
    )


def portable_band_candidates_between(
    sig_new: DataFrame,
    sig_old: DataFrame,
    num_bands: int = 8,
    rows_per_band: int = 4,
    carry_new: tuple[str, ...] = (),
) -> DataFrame:
    """Asymmetric band-collision candidates: NEW-batch docs probing an
    OLD corpus index — the incremental-ingest shape. Each (new, old)
    pair is emitted from its first colliding band only (same carried-
    bucket-array trick as ``portable_band_candidates``, no distinct()).

    At production scale the old side's band table is the stored dedup
    INDEX — computed once at corpus build, re-read per batch — so an
    incremental run costs O(|batch| + collisions), never re-touching the
    corpus text. New x new pairs are deliberately out of scope here
    (run the self-join candidates on the batch for those).
    Returns (doc_new, doc_old [, carry_new...]).

    ``carry_new`` columns from ``sig_new`` ride through the probe (e.g.
    the distinct-shingle array the Jaccard verify consumes): on a
    STREAMING new side the probe output cannot be joined back to the
    stream (stream-stream self-join), so verify inputs must travel with
    the candidate rows. Pure projections — carrying them adds no
    shuffle on either path."""

    def with_buckets(sig, extra=()):
        return sig.select(
            "doc_id",
            *extra,
            F.array(
                *[_portable_bucket_expr(b, rows_per_band) for b in range(num_bands)]
            ).alias("buckets"),
        ).select(
            "doc_id", *extra, "buckets", F.posexplode("buckets").alias("band", "bucket")
        )

    n = with_buckets(sig_new, carry_new).alias("n")
    o = with_buckets(sig_old).alias("o")
    first_collision = F.forall(
        F.zip_with(
            F.slice(F.col("n.buckets"), 1, F.col("n.band")),
            F.slice(F.col("o.buckets"), 1, F.col("o.band")),
            lambda x, y: x != y,
        ),
        lambda differs: differs,
    )
    return (
        n.join(
            o,
            (F.col("n.band") == F.col("o.band"))
            & (F.col("n.bucket") == F.col("o.bucket")),
        )
        .where(first_collision)
        .select(
            F.col("n.doc_id").alias("doc_new"),
            F.col("o.doc_id").alias("doc_old"),
            *[F.col(f"n.{c}") for c in carry_new],
        )
    )


def cdc_chunks(
    docs: DataFrame,
    boundary_mod: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Content-defined chunking at token granularity: a chunk boundary
    opens at every token whose portable hash ≡ 0 (mod ``boundary_mod``),
    so chunk boundaries are a function of CONTENT, not position — an
    insertion early in a document shifts every byte offset but leaves
    all later chunk hashes identical, which is what makes chunk-level
    storage dedup (LBFS/rsync lineage) and shifted-passage detection
    work where fixed-width blocks fail.

    Returns one row per (doc_id, chunk_id, chunk_hash, n_tokens).
    Expected chunk length is ``boundary_mod`` tokens.

    Plan: the whole chunking is PER-ROW array algebra — boundary
    positions are a filter over the token-hash array, chunks are slices
    between consecutive boundaries — so the operator is a pure
    projection with ONE explode and ZERO shuffles (an earlier draft
    used explode + per-doc window + assembly groupBy: three shuffles of
    the full token stream; this shape has none). Each expensive array
    is materialized in its own projection (the ``shingles()``
    staging rule)."""
    tok = docs.select(
        F.col(id_col).alias("doc_id"),
        F.split(F.col(text_col), " ").alias("ws"),
    )
    # boundary positions: 1-based index i (i > 1) whose token hash ≡ 0,
    # plus the sentinel bounds [0, n] — consecutive pairs delimit
    # chunks. The hash runs INSIDE the single position transform (once
    # per element, O(n)); staging the hash array in its own projection
    # is unsafe here because it would be referenced exactly once and
    # CollapseProject would inline the whole transform into the
    # element_at lambda — O(n^2) md5 per document (measured 4x slower).
    bpos = tok.select(
        "doc_id",
        "ws",
        F.concat(
            F.array(F.lit(0)),
            F.filter(
                F.transform(
                    # guard: sequence(2, 1) DESCENDS in Spark — docs with
                    # fewer than 2 tokens must yield no interior boundary
                    F.when(
                        F.size("ws") >= 2, F.sequence(F.lit(2), F.size("ws"))
                    ).otherwise(F.array().cast("array<int>")),
                    lambda i: F.when(
                        portable_string_hash(F.element_at("ws", i))
                        % boundary_mod
                        == 0,
                        i - 1,
                    ),
                ),
                lambda x: x.isNotNull(),
            ),
            F.array(F.size("ws")),
        ).alias("bp"),
    )
    chunks = bpos.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), F.size("bp") - 1),
                lambda j: F.struct(
                    F.array_join(
                        F.slice(
                            "ws",
                            F.element_at("bp", j) + 1,
                            F.element_at("bp", j + 1) - F.element_at("bp", j),
                        ),
                        " ",
                    ).alias("chunk"),
                    (
                        F.element_at("bp", j + 1) - F.element_at("bp", j)
                    ).cast("int").alias("n_tokens"),
                ),
            )
        ).alias("chunk_id", "c"),
    )
    return chunks.select(
        "doc_id",
        F.col("chunk_id").cast("bigint").alias("chunk_id"),
        portable_string_hash(F.col("c")["chunk"]).alias("chunk_hash"),
        F.col("c")["n_tokens"].alias("n_tokens"),
    )


def duplicated_substring_spans(
    docs: DataFrame,
    k: int = 5,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Substring-level exact dedup: maximal per-document token spans
    covered by any k-token shingle that occurs in >= ``min_docs``
    distinct documents (the train-data repeated-passage remover — a
    finer instrument than whole-document dedup, which keeps a document
    but cannot flag the boilerplate paragraph it shares with thousands
    of others).

    Plan shape, built for 10^9 docs:
    1. one pass shingling each doc into its k-token windows (JVM
       ``transform``/``slice`` array expressions — no Python);
    2. shingle document-frequency via groupBy (map-side combinable
       count-distinct) — cost is vocabulary-sized, not corpus^2;
    3. equi-join occurrences back to the duplicated-shingle keys (hash
       shuffle on the shingle — AQE-splittable, no broadcast needed at
       any scale);
    4. per-document gaps-and-islands over covered token positions
       (window partitioned by doc — never wider than one document).

    The shingle relation feeds both the frequency agg and the join
    probe; it is not persisted (a persist measured two extra stages and
    no shuffle saved on q114/q159). Returns (id, span_start, span_end,
    span_tokens), token-indexed.
    """
    w = docs.select(id_col, F.split(F.col(text_col), " ").alias("w")).where(
        F.size("w") >= k
    )
    sh = w.select(
        id_col,
        F.posexplode(
            F.expr(
                f"transform(sequence(0, size(w) - {k}),"
                f" i -> array_join(slice(w, i + 1, {k}), ' '))"
            )
        ).alias("pos", "shingle"),
    )
    if min_docs == 2:
        # "appears in >= 2 distinct docs" == min(doc) != max(doc):
        # plain MIN/MAX partial-aggregate map-side, where count-distinct
        # must expand per-key value sets through the shuffle.
        dup = (
            sh.groupBy("shingle")
            .agg(F.min(F.col(id_col)).alias("mn"), F.max(F.col(id_col)).alias("mx"))
            .where(F.col("mn") != F.col("mx"))
            .select("shingle")
        )
    else:
        dup = (
            sh.groupBy("shingle")
            .agg(F.count_distinct(F.col(id_col)).alias("nd"))
            .where(F.col("nd") >= min_docs)
            .select("shingle")
        )
    # Span assembly as interval merge over the occurrence intervals
    # [pos, pos+k) — NOT by exploding covered positions: islands of the
    # position union are exactly the merged intervals (adjacent = next
    # start <= running max end), and the merge form skips the k-times
    # position explode plus its distinct() shuffle (measured ~2x end to
    # end at sf0.1). Output identical — the SQL oracle still computes
    # the explode+islands form and the value hashes agree.
    occ = sh.join(dup, "shingle").select(
        id_col, "pos", (F.col("pos") + k).alias("e")
    )
    return _merge_occurrence_spans(occ, id_col)


def _merge_occurrence_spans(occ: DataFrame, id_col: str) -> DataFrame:
    """Merge per-doc occurrence intervals (pos, e) into maximal spans
    (gaps-and-islands; window never wider than one document)."""
    w_ord = Window.partitionBy(id_col).orderBy("pos")
    prev_max = F.max("e").over(w_ord.rowsBetween(Window.unboundedPreceding, -1))
    brk = F.when(prev_max.isNull() | (F.col("pos") > prev_max), 1).otherwise(0)
    return (
        occ.withColumn("brk", brk)
        .withColumn(
            "grp", F.sum("brk").over(w_ord.rowsBetween(Window.unboundedPreceding, 0))
        )
        .groupBy(id_col, "grp")
        .agg(
            F.min("pos").cast("int").alias("span_start"),
            (F.max("e") - 1).cast("int").alias("span_end"),
            (F.max("e") - F.min("pos")).cast("int").alias("span_tokens"),
        )
        .drop("grp")
    )


def contaminated_substring_spans(
    train: DataFrame,
    bench: DataFrame,
    k: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Span-level train/test decontamination: the maximal token spans of
    each TRAINING document covered by any k-token shingle that appears
    in the BENCHMARK corpus — the eval-contamination remover that CUTS
    the leaked passage instead of dropping (or keeping!) the whole
    document (q75's doc-level flag is the coarse pass; this is the
    surgical one).

    Scale shape: the benchmark shingle set is distinct'd and broadcast
    (eval suites are megabytes against a corpus of terabytes), so the
    training side never shuffles for the membership probe; span
    assembly is the same per-document interval merge as
    ``duplicated_substring_spans``. One corpus scan, zero corpus-wide
    shuffles. Returns (id, span_start, span_end, span_tokens).
    """
    w = train.select(id_col, F.split(F.col(text_col), " ").alias("w")).where(
        F.size("w") >= k
    )
    sh = w.select(
        id_col,
        F.posexplode(
            F.expr(
                f"transform(sequence(0, size(w) - {k}),"
                f" i -> array_join(slice(w, i + 1, {k}), ' '))"
            )
        ).alias("pos", "shingle"),
    )
    bench_sh = (
        bench.select(F.split(F.col(text_col), " ").alias("w"))
        .where(F.size("w") >= k)
        .select(
            F.explode(
                F.expr(
                    f"transform(sequence(0, size(w) - {k}),"
                    f" i -> array_join(slice(w, i + 1, {k}), ' '))"
                )
            ).alias("shingle")
        )
        .distinct()
    )
    occ = sh.join(F.broadcast(bench_sh), "shingle").select(
        id_col, "pos", (F.col("pos") + k).alias("e")
    )
    return _merge_occurrence_spans(occ, id_col)


# edge count at or below which connected_components runs on the driver
_LOCAL_COMPONENTS_CAP = 200_000


def _local_components_frame(edges: DataFrame):
    """Small-graph short circuit of ``connected_components``: when the
    (already materialized) (a, b) edge set is at most
    ``_LOCAL_COMPONENTS_CAP`` rows, collect it and run driver union-find — one bounded
    collect (a few MB at the cap, far under maxResultSize) replaces an
    O(log n)-round driver loop whose per-round cost is jobs and
    shuffles, not data. The same adaptivity as AQE's
    broadcast conversion: input statistics pick the physical plan; at
    production scale the count exceeds the cap and the distributed
    rounds run unchanged. Union-by-min-root + path compression, so
    every root IS its component's minimum id — exactly the min-label
    contract of the distributed rounds. Returns the (node, label)
    DataFrame, or None when the distributed path must run."""
    # edges is eagerly checkpointed by the caller: count() and
    # collect() scan materialized blocks, they never re-run the
    # upstream pair pipeline
    if edges.count() > _LOCAL_COMPONENTS_CAP:
        return None
    parent: dict = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:
            parent[x], x = root, parent[x]
        return root

    nodes = set()
    for row in edges.select("a", "b").collect():
        a, b = row[0], row[1]
        nodes.add(a)
        nodes.add(b)
        ra, rb = find(a), find(b)
        if ra != rb:
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra  # min root wins -> root == component min

    from pyspark.sql.types import StructField, StructType

    dt = edges.schema["a"].dataType
    schema = StructType(
        [StructField("node", dt, False), StructField("label", dt, False)]
    )
    rows = [(n, find(n)) for n in sorted(nodes)]
    return edges.sparkSession.createDataFrame(rows, schema)


def connected_components(
    pairs: DataFrame, id_a: str = "doc_a", id_b: str = "doc_b", max_rounds: int = 20
) -> DataFrame:
    """Connected components over a pair graph by alternating large-star /
    small-star contraction (Kiveris et al., *Connected Components in
    MapReduce and Beyond*, SoCC 2014): O(log n) rounds whatever the
    components' diameter, so deep chains cost no more rounds than the
    shallow duplicate cliques of the dedup endgame (pairs -> clusters ->
    keep-list).

    Returns (node, label) with label = the smallest id in the node's
    component. A self-pair ``(a, a)`` carries no edge: a node that
    appears only in self-pairs is not in the output.

    Each round: large-star connects every strictly-larger neighbor of u
    to min(N(u) ∪ {u}); small-star connects the rest. Both are one
    groupBy + join over the edge set; the edge set only shrinks toward
    a star forest, and the driver loop holds just a convergence bit.
    Raises ``RuntimeError`` when ``max_rounds`` pass without a converged
    round, rather than return a partial labelling.
    """
    # entry cut: the size gate and every round read the edge set, and
    # without the cut each would re-run the upstream pair pipeline
    # (r10: q503 89 s at 10x). Eager, because the first round reads it
    # from two branches and a lazy cut materializes under a concurrent
    # cache-population race (q131 4 s -> 20-26 s at sf0.01, r11).
    e = (
        pairs.select(F.col(id_a).alias("a"), F.col(id_b).alias("b"))
        .select(F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b"))
        .where(F.col("a") != F.col("b"))
        .distinct()
        .transform(lineage_cut, eager=True)
    )
    local = _local_components_frame(e)
    if local is not None:
        return local

    def star(edges: DataFrame, large: bool) -> DataFrame:
        nbrs = edges.select(
            F.col("a").alias("u"), F.col("b").alias("v")
        ).unionByName(edges.select(F.col("b").alias("u"), F.col("a").alias("v")))
        mins = nbrs.groupBy("u").agg(F.min("v").alias("mv"))
        mins = mins.select("u", F.least("mv", F.col("u")).alias("m"))
        j = nbrs.join(mins, "u")
        picked = j.where(F.col("v") > F.col("u")) if large else j.where(
            F.col("v") <= F.col("u")
        )
        out = picked.select(F.col("v").alias("x"), F.col("m").alias("y")).unionByName(
            j.select(F.col("u").alias("x"), F.col("m").alias("y"))
        )
        return (
            out.select(F.least("x", "y").alias("a"), F.greatest("x", "y").alias("b"))
            .where(F.col("a") != F.col("b"))
            .distinct()
        )

    for _ in range(max_rounds):
        # lazy cut; the convergence probe below materializes the round
        # (single consumer at materialization time — no race; the next
        # round and the post-loop fold read the populated checkpoint)
        nxt = star(star(e, large=True), large=False).transform(lineage_cut)
        # one symmetric-difference job instead of two exceptAll probes:
        # both sides are distinct sets, so a (a, b) key appearing in
        # exactly one of them (count == 1 in the union) IS the
        # difference — one shuffle over two checkpointed scans
        diff = (
            nxt.unionByName(e)
            .groupBy("a", "b")
            .agg(F.count(F.lit(1)).alias("__n"))
            .where(F.col("__n") == 1)
            .limit(1)
            .count()
        )
        e = nxt
        if diff == 0:
            break
    else:
        raise RuntimeError(
            f"connected_components did not converge within max_rounds={max_rounds}"
        )

    nbrs = e.select(F.col("a").alias("u"), F.col("b").alias("v")).unionByName(
        e.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )
    return (
        nbrs.groupBy("u")
        .agg(F.min("v").alias("mv"))
        .select(F.col("u").alias("node"), F.least("mv", F.col("u")).alias("label"))
    )


def rowwise_minhash_signatures(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 32,
    include_shingles: bool = False,
) -> DataFrame:
    """``portable_minhash_signatures`` as a PURE PROJECTION — shingle,
    hash, and minimize entirely inside array expressions on each row, no
    explode, no groupBy, no shuffle (equality with the aggregate form is
    pinned in tests).

    This is the streaming-ingest form: Structured Streaming forbids (or
    state-taxes) aggregations feeding joins, and at ingest time a
    document's signature is a per-record fact anyway. A document stream
    maps through this projection and probes the stored corpus band index
    with a stateless stream-static join
    (`portable_band_candidates_between`) — dedup-at-ingest with zero
    stream-side shuffle and zero streaming state. The batch/aggregate
    form remains preferable over a pre-exploded shingle relation that
    other consumers share.

    Still "one logical pass", but staged as CHAINED projections so each
    expensive array is materialized once per row: the split would
    otherwise re-evaluate per shingle inside the slice lambda (the
    O(words^2) anti-pattern documented at ``shingles()``), and the
    shingle-build+hash chain would re-evaluate once per hash function
    (num_hashes x) as each band-min transform's array argument. Catalyst
    keeps the stages apart (CollapseProject refuses to inline non-cheap
    expressions referenced more than once)."""
    tok = docs.select(
        F.col(id_col).alias("doc_id"),
        F.split(F.col(text_col), " ").alias("ws"),
    )
    w = F.col("ws")
    sh_arr = F.when(
        F.size(w) >= n,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), F.size(w) - n),
                lambda i: F.array_join(F.slice(w, i + 1, n), " "),
            )
        ),
    )
    hashed = tok.select("doc_id", sh_arr.alias("sh_set")).select(
        "doc_id",
        "sh_set",
        F.transform("sh_set", portable_string_hash).alias("v_arr"),
    )

    def perm(a: int, b: int):
        return lambda x: (F.lit(a).cast("bigint") * x + F.lit(b)) % MERSENNE31

    sig = F.array(
        *[
            F.array_min(F.transform("v_arr", perm(a, b)))
            for a, b in _minhash_coeffs(num_hashes)
        ]
    )
    cols = ["doc_id", sig.alias("signature")]
    if include_shingles:
        # carry the distinct-shingle array alongside (the verify step's
        # input) — still projection-only, no explode, no collect_set
        cols.append("sh_set")
    return hashed.select(*cols).where(F.col("signature").isNotNull())


def positional_shingles(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    """Word n-gram shingles WITH their 1-based position: (doc_id, pos,
    shingle). The positional sibling of ``shingles`` (which dedups and
    drops order) — winnowing needs every occurrence in document order."""
    tok = df.select(
        F.col(id_col).alias("doc_id"), F.split(F.col(text_col), " ").alias("ws")
    )
    ws = F.col("ws")
    k = F.size(ws) - (n - 1)
    idx = F.when(k >= 1, F.sequence(F.lit(1), k)).otherwise(
        F.array().cast("array<int>")
    )
    sh = F.transform(
        idx, lambda i: F.concat_ws(" ", *[F.element_at(ws, i + j) for j in range(n)])
    )
    return tok.select("doc_id", F.posexplode(sh).alias("pos0", "shingle")).select(
        "doc_id", (F.col("pos0") + 1).alias("pos"), "shingle"
    )


def winnowing_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    w: int = 4,
) -> DataFrame:
    """WINNOWING document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD 2003 — the MOSS algorithm): hash every word ``n``-gram, then
    in each window of ``w`` consecutive hashes select the minimum
    (rightmost on ties). Guarantees: every shared run of at least
    ``w + n - 1`` words produces at least one shared fingerprint, and
    expected density is 2/(w+1) — a fixed-rate sketch with a DETECTION
    guarantee, unlike MinHash's probabilistic one.

    Output: (doc_id, pos, h) distinct selected fingerprints.

    Scale shape: one positional-shingle scan, one window MIN per doc
    ordered by position (partition-local, no global sort), one
    DISTINCT. The argmin-with-rightmost-tie-break is encoded in a
    single BIGINT key h * 2^31 + (2^31 - pos) so the sliding MIN is
    one aggregate, exact in int64 (h < 2^31, pos < 2^31) — identical
    algebra on both engines."""
    pos_sh = positional_shingles(df, text_col, id_col, n)
    hashed = pos_sh.select(
        "doc_id", "pos", portable_string_hash(F.col("shingle")).alias("h")
    )
    two31 = F.lit(2147483648).cast("bigint")
    keyed = hashed.select(
        "doc_id",
        "pos",
        (F.col("h") * two31 + (two31 - F.col("pos"))).alias("key"),
    )
    win = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.currentRow, w - 1)
    )
    sel = keyed.select(
        "doc_id",
        "pos",
        F.min("key").over(win).alias("sel_key"),
        F.count(F.lit(1)).over(win).alias("n_in_win"),
    ).where((F.col("n_in_win") == w) | (F.col("pos") == 1))
    return sel.select(
        "doc_id",
        (two31 - (F.col("sel_key") % two31)).cast("bigint").alias("pos"),
        # integer div, NOT "/": sel_key reaches 2^62 and a double
        # quotient would lose low bits of h
        F.expr("sel_key div 2147483648").cast("bigint").alias("h"),
    ).distinct()


# DuckDB rendering of ``winnowing_fingerprints`` over a corpus CTE with
# (doc_id, text): positional shingles -> portable hash -> windowed
# argmin key -> distinct (doc_id, pos, h). Parameterized on n and w.
def winnowing_sql(corpus_cte: str, n: int = 3, w: int = 4, sfx: str = "") -> str:
    """All CTE names carry ``sfx`` so two corpora (e.g. stored corpus +
    ingest batch in q493) can be winnowed inside one WITH chain."""
    grams = " || ' ' || ".join(f"ws[i + {j}]" for j in range(n))
    h = PORTABLE_HASH_SQL.format(col="shingle")
    return f"""
tok{sfx} AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM ({corpus_cte})
),
psh{sfx} AS (
  SELECT doc_id, CAST(i AS BIGINT) AS pos, {grams} AS shingle
  FROM tok{sfx}, unnest(generate_series(1, len(ws) - {n - 1})) AS t(i)
),
hashed{sfx} AS (
  SELECT doc_id, pos, {h} AS h FROM psh{sfx}
),
keyed{sfx} AS (
  SELECT doc_id, pos, h * 2147483648 + (2147483648 - pos) AS key FROM hashed{sfx}
),
sel{sfx} AS (
  SELECT doc_id,
         MIN(key) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN CURRENT ROW AND {w - 1} FOLLOWING) AS sel_key,
         COUNT(*) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN CURRENT ROW AND {w - 1} FOLLOWING) AS n_in_win,
         pos
  FROM keyed{sfx}
),
fp{sfx} AS (
  SELECT DISTINCT doc_id,
         CAST(2147483648 - (sel_key % 2147483648) AS BIGINT) AS pos,
         CAST(sel_key // 2147483648 AS BIGINT) AS h
  FROM sel{sfx} WHERE n_in_win = {w} OR pos = 1
)"""


def rowwise_winnowing_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    w: int = 4,
) -> DataFrame:
    """``winnowing_fingerprints`` as ONE scan-local array expression per
    document — no window function, no shuffle — which makes it legal in
    a streaming projection (Structured Streaming forbids non-time
    windows; the per-doc argmin is a lambda over the doc's own shingle
    array, so it never needed one). Output-identical to the windowed
    operator (pinned in tests): same int64 argmin key, same rightmost
    tie-break, same short-doc first-window branch.

    Scale shape: zero shuffle — the ideal ingest-side sketch; cost is
    one md5 per position computed inside codegen'd array lambdas."""
    two31 = F.lit(2147483648).cast("bigint")
    # each stage lands in its OWN projection so codegen materializes it
    # once per row: an expression referenced inside a higher-order
    # lambda is re-evaluated PER ELEMENT (the shingles() lesson) — with
    # `keys` inline, every window index recomputed every md5, turning
    # the selection quadratic (measured 99.7s -> 9s at 10x)
    ws = F.col("__ws")
    np_ = F.size(ws) - (n - 1)
    staged = (
        df.select(F.col(id_col).alias("doc_id"), F.split(F.col(text_col), " ").alias("__ws"))
        .where(np_ >= 1)
        .withColumn(
            "__sh",
            F.transform(
                F.sequence(F.lit(1), np_),
                lambda j: F.concat_ws(
                    " ", *[F.element_at(ws, j + k) for k in range(n)]
                ),
            ),
        )
        .withColumn(
            "__keys",
            F.transform(
                F.col("__sh"),
                lambda s, i: (
                    F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("bigint")
                    % MERSENNE31
                )
                * two31
                + (two31 - (i.cast("bigint") + 1)),
            ),
        )
    )
    sel = F.array_distinct(
        F.transform(
            F.sequence(
                F.lit(1), F.greatest(F.size("__keys") - (w - 1), F.lit(1))
            ),
            lambda j: F.array_min(F.slice(F.col("__keys"), j, w)),
        )
    )
    return (
        staged.select("doc_id", F.explode(sel).alias("sel_key"))
        .select(
            "doc_id",
            (two31 - (F.col("sel_key") % two31)).cast("bigint").alias("pos"),
            F.expr("sel_key div 2147483648").cast("bigint").alias("h"),
        )
        .distinct()
    )


def tf_shingles(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    """Word n-gram shingles WITH term frequency: (doc_id, shingle, tf).
    The multiset view ``shingles`` collapses — weighted Jaccard needs
    it (a doc repeating a passage k times is NOT the same multiset as
    one occurrence)."""
    return (
        positional_shingles(df, text_col, id_col, n)
        .groupBy("doc_id", "shingle")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    )


def weighted_jaccard_for_pairs(pairs: DataFrame, tf: DataFrame) -> DataFrame:
    """EXACT weighted (multiset) Jaccard for a GIVEN candidate pair set:
    J_w = Sigma_s min(tf_a, tf_b) / Sigma_s max(tf_a, tf_b), folded to
    all-integer arithmetic via Sigma max = tot_a + tot_b - Sigma min
    (min = 0 off the shared support, so only SHARED shingles join).

    The repetition-sensitive verify step binary Jaccard lacks: a doc
    that repeats a boilerplate passage k times scores ~1.0 binary
    (same shingle SET) but 1/k weighted — the signal that separates
    template spam from genuine near-duplication.

    Scale shape: ``jaccard_for_pairs``'s — one equi-join of candidates
    against the tf relation per side, O(|docs| + Sigma_pairs |doc|),
    never corpus^2; every quantity is BIGINT until one final division."""
    # both tot joins read this aggregate; exchange reuse does not fire
    # over a cached ``tf`` (q494 caches it), and without the persist q494
    # measured the tots aggregate twice: +7.7 KB shuffle, +1.2 MB input
    tots = tf.groupBy("doc_id").agg(F.sum("tf").cast("bigint").alias("tot")).transform(
        managed_persist
    )
    ta = tf.select(
        F.col("doc_id").alias("doc_a"), "shingle", F.col("tf").alias("ta")
    )
    tb = tf.select(
        F.col("doc_id").alias("doc_b"), "shingle", F.col("tf").alias("tb")
    )
    num = (
        pairs.select("doc_a", "doc_b")
        .join(ta, "doc_a")
        .join(tb, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.sum(F.least("ta", "tb")).cast("bigint").alias("w_shared"))
    )
    tot_a = tots.select(F.col("doc_id").alias("doc_a"), F.col("tot").alias("tot_a"))
    tot_b = tots.select(F.col("doc_id").alias("doc_b"), F.col("tot").alias("tot_b"))
    return (
        num.join(tot_a, "doc_a")
        .join(tot_b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "w_shared",
            "tot_a",
            "tot_b",
            (
                F.col("w_shared")
                / (F.col("tot_a") + F.col("tot_b") - F.col("w_shared")).cast(
                    "double"
                )
            ).alias("jaccard_weighted"),
        )
    )
