"""Text-analysis queries over the documents table: token stats, quality
scoring, language ID, fingerprinting — the LLM-training-data text ops
(BASELINE.json north star), all native expressions with SQL oracles.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from variantcalling_spark.functions.text import (
    STOPWORDS,
    distinct_token_count,
    fingerprint,
    predict_lang,
    quality_score,
    stopword_count,
    token_count,
)
from variantcalling_spark.operators.similarity import QUANT
from variantcalling_spark.queries import query
from variantcalling_spark.queries._helpers import cnt, managed_persist
from variantcalling_spark.sources import load_table

SW = ", ".join(f"'{w}'" for w in STOPWORDS)


@query(
    "q60_token_stats",
    oracle="""
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
       CAST(len(list_distinct(string_split(text, ' '))) AS INT) AS n_distinct,
       CAST(length(text) AS INT) AS n_chars_actual,
       md5(lower(trim(text))) AS fp
FROM documents
""",
)
def q60_token_stats(spark, sf_dir):
    """Token counting + content fingerprint per document (whitespace
    tokenizer; md5 of normalized text as the rolling-hash stand-in)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        token_count(F.col("text")).alias("n_tokens"),
        distinct_token_count(F.col("text")).alias("n_distinct"),
        F.length("text").cast("int").alias("n_chars_actual"),
        fingerprint(F.col("text")).alias("fp"),
    )


@query(
    "q61_quality_score",
    oracle=f"""
WITH t AS (
  SELECT doc_id, source, text,
         len(string_split(text, ' ')) AS n_tok,
         len(list_distinct(string_split(text, ' '))) AS n_dist,
         len(list_filter(string_split(text, ' '), w -> w IN ({SW}))) AS n_stop
  FROM documents
)
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(CAST(ROUND(
         0.4 * (CASE WHEN length(text) BETWEEN 100 AND 400 THEN 1 ELSE 0 END)
         + 0.4 * (n_dist / CAST(n_tok AS DOUBLE))
         + 0.2 * LEAST((n_stop / CAST(n_tok AS DOUBLE)) * 5, 1.0), 6) AS DECIMAL(12,6))) AS DOUBLE) AS quality_total
FROM t GROUP BY source
""",
)
def q61_quality_score(spark, sf_dir):
    """Document quality scoring: length band + lexical diversity +
    stopword ratio (the standard LLM data-quality heuristics), aggregated
    per source with exact decimal summation."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("source", quality_score(F.col("text")).alias("q"))
        .groupBy("source")
        .agg(
            cnt("n_docs"),
            F.sum(F.col("q").cast("decimal(12,6)")).cast("double").alias("quality_total"),
        )
    )


@query(
    "q62_lang_id_confusion",
    oracle="""
WITH s AS (
  SELECT lang AS actual,
         len(list_filter(string_split(text, ' '), w -> w IN ('der', 'und', 'die'))) AS s_de,
         len(list_filter(string_split(text, ' '), w -> w IN ('the', 'and', 'of'))) AS s_en,
         len(list_filter(string_split(text, ' '), w -> w IN ('el', 'la', 'de'))) AS s_es,
         len(list_filter(string_split(text, ' '), w -> w IN ('le', 'et', 'les'))) AS s_fr,
         len(list_filter(string_split(text, ' '), w -> w IN ('de5', 'le5', 'he2'))) AS s_zh
  FROM documents
),
p AS (
  SELECT actual,
         CASE WHEN GREATEST(s_de, s_en, s_es, s_fr, s_zh) = 0 THEN 'und'
              WHEN s_de = GREATEST(s_de, s_en, s_es, s_fr, s_zh) THEN 'de'
              WHEN s_en = GREATEST(s_de, s_en, s_es, s_fr, s_zh) THEN 'en'
              WHEN s_es = GREATEST(s_de, s_en, s_es, s_fr, s_zh) THEN 'es'
              WHEN s_fr = GREATEST(s_de, s_en, s_es, s_fr, s_zh) THEN 'fr'
              ELSE 'zh' END AS predicted
  FROM s
)
SELECT actual, predicted, COUNT(*) AS n
FROM p GROUP BY actual, predicted
""",
)
def q62_lang_id_confusion(spark, sf_dir):
    """Language-ID heuristic (marker-word argmax, deterministic tie-break
    by language code) evaluated as a confusion matrix against the actual
    lang column."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            F.col("lang").alias("actual"), predict_lang(F.col("text")).alias("predicted")
        )
        .groupBy("actual", "predicted")
        .agg(cnt("n"))
    )


@query(
    "q63_rolling_fingerprint",
    oracle="""
WITH toks AS (
  SELECT doc_id,
         list_transform(string_split(text, ' '),
                        t -> (length(t) * 131 + ascii(substr(t, 1, 1)) * 31
                              + ascii(substr(t, length(t), 1))) % 2147483647)
           AS vs
  FROM documents
)
SELECT doc_id,
       list_reduce(vs, (a, b) -> (a * 1000003 + b) % 2147483647) AS rolling_hash,
       CAST(len(vs) AS INT) AS n_tokens
FROM toks
""",
)
def q63_rolling_fingerprint(spark, sf_dir):
    """Order-sensitive document fingerprint: per-token values folded
    through a polynomial rolling hash (Rabin-Karp style, mod 2^31-1) —
    the content-defined fingerprinting primitive for shift-tolerant
    dedup chunking. Pure higher-order array expressions: transform for
    token values, aggregate for the left fold (seeded with the first
    element to match list_reduce)."""
    docs = load_table(spark, sf_dir, "documents")
    M = 2147483647
    toks = docs.select(
        "doc_id", F.split(F.col("text"), " ").alias("ts")
    ).select(
        "doc_id",
        F.transform(
            F.col("ts"),
            lambda t: (
                F.length(t) * 131
                + F.ascii(F.substring(t, 1, 1)) * 31
                + F.ascii(F.substring(t, -1, 1))
            )
            % M,
        ).alias("vs"),
    )
    rolled = F.aggregate(
        F.slice(F.col("vs"), 2, F.greatest(F.size("vs") - 1, F.lit(0))),
        F.element_at(F.col("vs"), 1).cast("bigint"),
        lambda acc, b: (acc * 1000003 + b) % M,
    )
    return toks.select(
        "doc_id",
        rolled.alias("rolling_hash"),
        F.size("vs").alias("n_tokens"),
    )


@query(
    "q72_bpe_tokens",
    oracle="""
WITH t AS (
  SELECT doc_id,
         regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]') AS toks
  FROM documents
)
SELECT doc_id,
       CAST(len(toks) AS INT) AS n_tokens,
       CAST(len(list_distinct(toks)) AS INT) AS n_distinct,
       CAST(len(list_filter(toks, x -> regexp_matches(x, '^[0-9]+$'))) AS INT)
         AS n_numeric,
       CAST(CASE WHEN len(toks) > 0
                 THEN list_sum(list_transform(toks, x -> length(x)))
                 ELSE 0 END AS BIGINT) AS total_len
FROM t
""",
)
def q72_bpe_tokens(spark, sf_dir):
    """BPE-ish regex tokenization (the GPT-2 pre-tokenizer shape:
    letter runs | digit runs | single punctuation): token counts, vocab
    size, numeric-token count, total byte length — the token-budget
    accounting pass of an LLM data pipeline, pure regexp_extract_all +
    higher-order functions."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.regexp_extract_all(
        F.lower(F.col("text")), F.lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), 0
    )
    t = docs.select("doc_id", toks.alias("toks"))
    return t.select(
        "doc_id",
        F.size("toks").alias("n_tokens"),
        F.size(F.array_distinct("toks")).alias("n_distinct"),
        F.size(
            F.filter(F.col("toks"), lambda x: x.rlike("^[0-9]+$"))
        ).alias("n_numeric"),
        F.coalesce(
            F.aggregate(
                F.transform(F.col("toks"), F.length),
                F.lit(0).cast("bigint"),
                lambda acc, x: acc + x,
            ),
            F.lit(0).cast("bigint"),
        ).alias("total_len"),
    )


@query(
    "q75_decontamination",
    oracle="""
WITH bench AS (
  SELECT DISTINCT shingle FROM (
    SELECT unnest([string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1] || ' ' || string_split(text, ' ')[i+2]
                   for i in generate_series(1, len(string_split(text, ' ')) - 2)]) AS shingle
    FROM documents WHERE doc_id % 97 = 0
  )
),
sh AS (
  SELECT DISTINCT doc_id, shingle FROM (
    SELECT doc_id,
           unnest([string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1] || ' ' || string_split(text, ' ')[i+2]
                   for i in generate_series(1, len(string_split(text, ' ')) - 2)]) AS shingle
    FROM documents WHERE doc_id % 97 <> 0
  )
)
SELECT sh.doc_id, COUNT(*) AS n_hits
FROM sh JOIN bench ON sh.shingle = bench.shingle
GROUP BY sh.doc_id
""",
)
def q75_decontamination(spark, sf_dir):
    """Train/test decontamination: flag training documents sharing any
    word-3-gram with a benchmark set (here: every 97th doc) and report
    the overlap count. The benchmark shingle set is tiny relative to the
    corpus, so it is broadcast — the corpus-side scan never shuffles and
    the whole check is one map-side join at any corpus size (the
    standard n-gram-overlap decontamination pass of LLM data pipelines).
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    from variantcalling_spark.operators.dedup import shingles

    bench_sh = (
        shingles(docs.where(F.col("doc_id") % 97 == 0), n=3)
        .select("shingle")
        .distinct()
    )
    train_sh = shingles(docs.where(F.col("doc_id") % 97 != 0), n=3)
    return (
        train_sh.join(F.broadcast(bench_sh), "shingle")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )


@query(
    "q76_sequence_packing",
    oracle="""
WITH t AS (
  SELECT doc_id,
         CAST(doc_id % 8 AS INT) AS shard,
         CAST(len(string_split(text, ' ')) AS INT) AS n_tokens
  FROM documents
),
c AS (
  SELECT shard, doc_id, n_tokens,
         SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - n_tokens AS start_off
  FROM t
),
b AS (
  SELECT shard, doc_id, n_tokens, start_off,
         CAST(start_off // 1024 AS INT) AS bin_id,
         CASE WHEN start_off // 1024 <> (start_off + n_tokens - 1) // 1024
              THEN 1 ELSE 0 END AS straddles
  FROM c
)
SELECT shard, bin_id,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       CAST(SUM(straddles) AS BIGINT) AS n_straddling
FROM b GROUP BY shard, bin_id
""",
)
def q76_sequence_packing(spark, sf_dir):
    """Concat-and-chunk sequence packing (GPT-style): within each shard,
    documents are concatenated in doc_id order and cut into 1024-token
    context windows; a document belongs to the window where it starts,
    and boundary-straddling docs are counted (they get split in a real
    tokenizer pipeline). One window cumsum per shard — packing is
    embarrassingly parallel across shards, and no shard's data ever
    gathers on one node beyond its own sort.
    """
    docs = load_table(spark, sf_dir, "documents")
    from pyspark.sql import Window as W

    t = docs.select(
        "doc_id",
        (F.col("doc_id") % 8).cast("int").alias("shard"),
        F.size(F.split("text", " ")).alias("n_tokens"),
    )
    w = W.partitionBy("shard").orderBy("doc_id").rowsBetween(W.unboundedPreceding, 0)
    c = t.withColumn("start_off", F.sum("n_tokens").over(w) - F.col("n_tokens"))
    b = c.select(
        "shard",
        "n_tokens",
        (F.col("start_off") / 1024).cast("int").alias("bin_id"),
        F.when(
            (F.col("start_off") / 1024).cast("bigint")
            != ((F.col("start_off") + F.col("n_tokens") - 1) / 1024).cast("bigint"),
            1,
        )
        .otherwise(0)
        .alias("straddles"),
    )
    return b.groupBy("shard", "bin_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.sum("straddles").cast("bigint").alias("n_straddling"),
    )


@query(
    "q77_greedy_packing",
    oracle="""
WITH RECURSIVE t AS (
  SELECT CAST(doc_id % 8 AS INT) AS shard, doc_id,
         CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
         ROW_NUMBER() OVER (PARTITION BY doc_id % 8 ORDER BY doc_id) AS rn
  FROM documents
),
pack AS (
  SELECT shard, doc_id, n_tokens, rn, 0 AS bin_id, n_tokens AS used
  FROM t WHERE rn = 1
  UNION ALL
  SELECT t.shard, t.doc_id, t.n_tokens, t.rn,
         CASE WHEN p.used + t.n_tokens <= 1024 THEN p.bin_id ELSE p.bin_id + 1 END,
         CASE WHEN p.used + t.n_tokens <= 1024 THEN p.used + t.n_tokens ELSE t.n_tokens END
  FROM t JOIN pack p ON t.shard = p.shard AND t.rn = p.rn + 1
)
SELECT shard, bin_id, COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
FROM pack GROUP BY shard, bin_id
""",
)
def q77_greedy_packing(spark, sf_dir):
    """Whole-document greedy sequential packing into 1024-token bins per
    shard (no document split across windows — the padding-free batching
    layout). Path-dependent running state -> applyInPandas kernel per
    shard (same class as the gVCF block merge); first-fit invariants
    pinned in tests/test_kernels.py. Output: per (shard, bin) fill
    stats.

    The packing recursion (bin id / fill level as a running fold over
    doc_id order) IS ANSI-expressible as a recursive CTE advancing every
    shard one document per step — so the kernel's exact output, not just
    its invariants, is oracle-checked at any scale factor."""
    docs = load_table(spark, sf_dir, "documents")
    from variantcalling_spark.operators.kernels import greedy_pack_documents

    t = docs.select(
        (F.col("doc_id") % 8).cast("int").alias("shard"),
        "doc_id",
        F.size(F.split("text", " ")).alias("n_tokens"),
    )
    packed = greedy_pack_documents(t, capacity=1024)
    return packed.groupBy("shard", "bin_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
    )


@query(
    "q78_repetition_ratio",
    oracle="""
WITH t AS (
  SELECT doc_id,
         GREATEST(len(string_split(text, ' ')) - 2, 0) AS n_grams,
         len(list_distinct([string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1] || ' ' || string_split(text, ' ')[i+2]
                            for i in generate_series(1, len(string_split(text, ' ')) - 2)])) AS n_distinct
  FROM documents
)
SELECT doc_id,
       CAST(n_grams AS INT) AS n_grams,
       CAST(n_distinct AS INT) AS n_distinct,
       ROUND(CASE WHEN n_grams = 0 THEN 0.0
                  ELSE 1.0 - n_distinct / CAST(n_grams AS DOUBLE) END, 6) AS rep_ratio,
       CASE WHEN n_grams > 0 AND 1.0 - n_distinct / CAST(n_grams AS DOUBLE) > 0.2
            THEN TRUE ELSE FALSE END AS is_repetitive
FROM t
""",
)
def q78_repetition_ratio(spark, sf_dir):
    """Within-document repetition quality signal (the Gopher/C4-family
    filter): fraction of duplicated word-3-grams per doc, with a > 0.2
    repetitiveness flag. Pure per-row array expressions — no shuffle at
    all; the filter runs at scan speed on any corpus."""
    docs = load_table(spark, sf_dir, "documents")
    # Materialize the split in its own projection (operators/dedup.py
    # shingles() rule): capturing the raw split(text) expression inside
    # the transform lambda re-evaluates it per element — O(words^2)/doc.
    tok = docs.select("doc_id", F.split("text", " ").alias("ws"))
    ws = F.col("ws")
    k = F.size(ws) - 2
    idx = F.when(k >= 1, F.sequence(F.lit(1), k)).otherwise(
        F.array().cast("array<int>")
    )
    grams = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ",
            F.element_at(ws, i),
            F.element_at(ws, i + 1),
            F.element_at(ws, i + 2),
        ),
    )
    t = tok.select(
        "doc_id",
        F.greatest(k, F.lit(0)).alias("n_grams"),
        F.size(F.array_distinct(grams)).alias("n_distinct"),
    )
    rep = F.lit(1.0) - F.col("n_distinct") / F.col("n_grams").cast("double")
    return t.select(
        "doc_id",
        "n_grams",
        "n_distinct",
        F.round(F.when(F.col("n_grams") == 0, 0.0).otherwise(rep), 6).alias("rep_ratio"),
        ((F.col("n_grams") > 0) & (rep > 0.2)).alias("is_repetitive"),
    )


@query(
    "q94_deterministic_shuffle",
    oracle="""
WITH keyed AS (
  SELECT doc_id,
         (CAST(1103515245 AS BIGINT) * doc_id + 12345) % 2147483647 AS skey
  FROM documents
),
b AS (
  SELECT doc_id, skey, CAST(skey % 16 AS INT) AS bucket FROM keyed
)
SELECT bucket,
       CAST(ROW_NUMBER() OVER (PARTITION BY bucket ORDER BY skey, doc_id) AS INT) AS pos,
       doc_id
FROM b
""",
)
def q94_deterministic_shuffle(spark, sf_dir):
    """Deterministic global shuffle for training-data ordering: an
    affine hash of the stable key is the shuffle key; docs are sharded
    into 16 buckets by the key and ordered within each bucket — exactly
    reproducible across engines, task retries, and reruns (no RNG
    state). Windows partition by bucket, so no single task ever sees
    more than one bucket — the shuffled order of a 10^9-doc corpus
    materializes as n_buckets independent sorted shards (readers stream
    bucket-by-bucket, which is how packed training shards are laid out
    anyway)."""
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    keyed = docs.select(
        "doc_id",
        ((F.lit(1103515245).cast("bigint") * F.col("doc_id") + 12345) % 2147483647).alias(
            "skey"
        ),
    )
    b = keyed.withColumn("bucket", (F.col("skey") % 16).cast("int"))
    w = W.partitionBy("bucket").orderBy("skey", "doc_id")
    return b.select(
        "bucket",
        F.row_number().over(w).alias("pos"),
        "doc_id",
    )


@query(
    "q97_unigram_lm_score",
    oracle="""
WITH words AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
),
freq AS (SELECT w, COUNT(*) AS c FROM words GROUP BY w),
total AS (SELECT SUM(c) AS n FROM freq),
scored AS (
  SELECT words.doc_id,
         CAST(-log10(freq.c / CAST(total.n AS DOUBLE)) AS DECIMAL(18,12)) AS nll
  FROM words JOIN freq ON words.w = freq.w CROSS JOIN total
)
SELECT doc_id,
       CAST(COUNT(*) AS INT) AS n_words,
       ROUND(CAST(SUM(nll) AS DOUBLE) / COUNT(*), 6) AS avg_nll
FROM scored GROUP BY doc_id
""",
)
def q97_unigram_lm_score(spark, sf_dir):
    """Unigram language-model scoring (the CCNet/Wikipedia-LM filtering
    shape): corpus word frequencies -> per-word -log10 p -> per-doc mean
    negative log-likelihood; low-probability-heavy docs score high and
    get filtered. Two aggregations + one broadcast join of the frequency
    table (vocabulary-sized — megabytes even at web scale, since it
    grows sublinearly in the corpus). The per-word nll doubles sum in
    DECIMAL so the mean is order-independent — identical at any
    partition count (the same trick as every measure aggregate here)."""
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
    freq = words.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    total = freq.agg(F.sum("c").alias("n"))
    scored = words.join(F.broadcast(freq), "w").crossJoin(F.broadcast(total)).select(
        "doc_id",
        (-F.log10(F.col("c") / F.col("n").cast("double")))
        .cast("decimal(18,12)")
        .alias("nll"),
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_words"),
        F.round(F.sum("nll").cast("double") / F.count(F.lit(1)), 6).alias("avg_nll"),
    )


PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_DIGITS = r"[0-9]{3,}"


@query(
    "q109_pii_scrub",
    oracle=f"""
WITH scrubbed AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(text, '{PII_EMAIL}')) AS INT) AS n_emails,
         CAST(len(regexp_extract_all(text, '{PII_DIGITS}')) AS INT) AS n_digit_runs,
         regexp_replace(regexp_replace(text, '{PII_EMAIL}', '<EMAIL>', 'g'),
                        '{PII_DIGITS}', '<NUM>', 'g') AS clean
  FROM documents
)
SELECT doc_id, n_emails, n_digit_runs,
       CAST(length(clean) AS INT) AS clean_len,
       md5(clean) AS clean_md5
FROM scrubbed
""",
)
def q109_pii_scrub(spark, sf_dir):
    """PII scrubbing — the redaction stage every training-data pipeline
    runs before tokenization: count + replace email addresses and long
    digit runs with typed placeholders. Pure per-row regexp expressions
    (JVM codegen, zero shuffle — pipelines with the scan at any corpus
    size); the md5 of the scrubbed text gives the oracle a
    character-exact check of the full replacement, not just the
    counts."""
    docs = load_table(spark, sf_dir, "documents")
    email, digits = PII_EMAIL, PII_DIGITS
    clean = F.regexp_replace(
        F.regexp_replace(F.col("text"), email, "<EMAIL>"), digits, "<NUM>"
    )
    return docs.select(
        "doc_id",
        F.regexp_count(F.col("text"), F.lit(email)).cast("int").alias("n_emails"),
        F.regexp_count(F.col("text"), F.lit(digits)).cast("int").alias("n_digit_runs"),
        F.length(clean).cast("int").alias("clean_len"),
        F.md5(clean).alias("clean_md5"),
    )


@query(
    "q115_domain_mixture_sampling",
    oracle="""
WITH docs AS (
  SELECT doc_id,
         concat('d', CAST(CAST(FLOOR(sqrt(doc_id % 100)) AS INT) AS VARCHAR)) AS domain
  FROM documents
),
cnts AS (SELECT domain, COUNT(*) AS n FROM docs GROUP BY domain),
tot AS (SELECT SUM(n) AS n_total, SUM(CAST(sqrt(n) AS DECIMAL(18,9))) AS w_total FROM cnts),
quotas AS (
  SELECT domain,
         CAST(FLOOR(((n_total * 2) // 5)
           * (CAST(CAST(sqrt(n) AS DECIMAL(18,9)) AS DOUBLE) / CAST(w_total AS DOUBLE))
           + 0.5) AS INT) AS quota
  FROM cnts CROSS JOIN tot
),
ranked AS (
  SELECT doc_id, domain,
         CAST(ROW_NUMBER() OVER (PARTITION BY domain
                ORDER BY md5(CAST(doc_id AS STRING))) AS INT) AS rn
  FROM docs
)
SELECT r.doc_id, r.domain, r.rn, q.quota
FROM ranked r JOIN quotas q USING (domain) WHERE r.rn <= q.quota
""",
)
def q115_domain_mixture_sampling(spark, sf_dir):
    """Temperature-based domain mixture sampling (the multilingual /
    data-mixing rebalance: p_d ∝ n_d^α with α = 0.5): per-domain quotas
    from the tempered distribution over a 40% global budget, then a
    deterministic md5-ordered pick of each domain's quota. Rare domains
    are upsampled relative to their share, head domains capped — the
    standard mixture dial for assembling a training corpus from skewed
    sources. Domains are synthesized with quadratically skewed sizes so
    the rebalancing is actually exercised. Counts/weights aggregate in
    one map-side-combinable pass (weights DECIMAL-summed, so the quota
    doubles are identical at any partition count); quotas broadcast back
    (one row per domain); ranking is a per-domain window keyed by an
    engine-portable md5 order — no global sort, no RNG state."""
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.lit("d"),
            F.floor(F.sqrt(F.col("doc_id") % 100)).cast("int").cast("string"),
        ).alias("domain"),
    )
    cnts = docs.groupBy("domain").agg(F.count(F.lit(1)).alias("n"))
    tot = cnts.agg(
        F.sum("n").alias("n_total"),
        F.sum(F.sqrt("n").cast("decimal(18,9)")).alias("w_total"),
    )
    quotas = cnts.crossJoin(F.broadcast(tot)).select(
        "domain",
        F.floor(
            F.expr("(n_total * 2) div 5")
            * (
                F.sqrt("n").cast("decimal(18,9)").cast("double")
                / F.col("w_total").cast("double")
            )
            + F.lit(0.5)
        )
        .cast("int")
        .alias("quota"),
    )
    rn = F.row_number().over(
        W.partitionBy("domain").orderBy(F.md5(F.col("doc_id").cast("string")))
    )
    return (
        docs.withColumn("rn", rn.cast("int"))
        .join(F.broadcast(quotas), "domain")
        .where(F.col("rn") <= F.col("quota"))
        .select("doc_id", "domain", "rn", "quota")
    )


BM25_TERMS = ("spark", "join", "window", "stream")
_BM25_IN = ", ".join(f"'{t}'" for t in BM25_TERMS)


@query(
    "q116_bm25_topk",
    oracle=f"""
WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
dl AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS INT) AS dl FROM documents),
stats AS (
  SELECT COUNT(*) AS n_docs,
         CAST(SUM(CAST(len(string_split(text, ' ')) AS DECIMAL(18,2))) AS DOUBLE)
           / COUNT(*) AS avgdl
  FROM documents
),
tf AS (
  SELECT doc_id, w, COUNT(*) AS tf FROM toks
  WHERE w IN ({_BM25_IN}) GROUP BY doc_id, w
),
idf AS (SELECT w, COUNT(*) AS df FROM tf GROUP BY w),
scored AS (
  SELECT tf.doc_id,
         CAST(ln((n_docs - df + 0.5) / (df + 0.5) + 1)
              * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl.dl / avgdl))
              AS DECIMAL(18,12)) AS s
  FROM tf JOIN idf USING (w) JOIN dl USING (doc_id) CROSS JOIN stats
),
agg AS (
  SELECT doc_id, CAST(COUNT(*) AS INT) AS n_terms,
         ROUND(CAST(SUM(s) AS DOUBLE), 6) AS score
  FROM scored GROUP BY doc_id
)
SELECT doc_id, n_terms, score,
       CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS INT) AS rank
FROM agg QUALIFY rank <= 20
""",
)
def q116_bm25_topk(spark, sf_dir):
    """BM25 keyword retrieval (k1=1.2, b=0.75): the search-side workhorse
    for corpus exploration and retrieval-based decontamination. Plan is
    the inverted-index shape — explode tokens, per-(doc, term) tf, tiny
    per-term df and corpus stats broadcast back, per-term partial scores
    DECIMAL-cast so the doc-level sum is term-order independent, global
    top-20 by rounded score (tiebreak doc_id; the final window runs over
    the ≤|matching docs| aggregate, never the corpus). At 100 TB the only
    corpus-wide shuffles are the (doc, term) tf aggregate — restricted to
    query terms at scan time by a pushed-down IN filter — and the doc-id
    join against per-doc lengths."""
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    agg = _bm25_doc_scores(docs)
    # global top-20 via TakeOrderedAndProject (distributed heap-select,
    # VERDICT r6 fix — never a corpus-wide single-partition row_number);
    # the rank window then runs over exactly 20 rows.
    top = agg.orderBy(F.col("score").desc(), "doc_id").limit(20)
    return top.withColumn(
        "rank",
        F.row_number()
        .over(W.orderBy(F.col("score").desc(), "doc_id"))
        .cast("int"),
    )


def _bm25_doc_scores(docs):
    """(doc_id, n_terms, score) BM25 relation for BM25_TERMS — q116's
    scoring subtree, shared verbatim with the q530 fusion arm."""
    toks = docs.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
    dl = docs.select(
        "doc_id", F.size(F.split("text", " ")).cast("int").alias("dl")
    )
    stats = docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (
            F.sum(F.size(F.split("text", " ")).cast("decimal(18,2)")).cast("double")
            / F.count(F.lit(1))
        ).alias("avgdl"),
    )
    tf = (
        toks.where(F.col("w").isin(*BM25_TERMS))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    idf = tf.groupBy("w").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        tf.join(F.broadcast(idf), "w")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            (
                F.log((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1)
                * (F.col("tf") * 2.2)
                / (
                    F.col("tf")
                    + 1.2 * (0.25 + 0.75 * F.col("dl") / F.col("avgdl"))
                )
            )
            .cast("decimal(18,12)")
            .alias("s"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_terms"),
        F.round(F.sum("s").cast("double"), 6).alias("score"),
    )


@query(
    "q117_dsir_importance_weights",
    oracle="""
WITH w AS (SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents),
grams AS (
  SELECT doc_id, lang, unnest(w) AS gram FROM w
  UNION ALL
  SELECT doc_id, lang,
         unnest(list_transform(range(CAST(len(w) AS BIGINT) - 1),
                i -> concat(w[i+1], ' ', w[i+2]))) AS gram
  FROM w WHERE len(w) >= 2
),
bkt AS (SELECT doc_id, lang, list_reduce(list_transform(string_split(substr(md5(gram), 1, 8), ''), c -> CAST(CASE WHEN ascii(c) >= 97 THEN ascii(c) - 87 ELSE ascii(c) - 48 END AS BIGINT)), (a, b) -> a * 16 + b) % 2147483647 % 256 AS b FROM grams),
per_doc AS (SELECT doc_id, lang, b, COUNT(*) AS c FROM bkt GROUP BY doc_id, lang, b),
raw AS (SELECT b, SUM(c) AS cr FROM per_doc GROUP BY b),
tgt AS (SELECT b, SUM(c) AS ct FROM per_doc WHERE lang = 'en' GROUP BY b),
tots AS (SELECT SUM(c) AS tr, SUM(CASE WHEN lang = 'en' THEN c END) AS tt FROM per_doc),
lr AS (
  SELECT raw.b,
         ln((COALESCE(ct, 0) + 1) / (tt + 256.0)) - ln((cr + 1) / (tr + 256.0)) AS lr
  FROM raw LEFT JOIN tgt ON raw.b = tgt.b CROSS JOIN tots
),
weighted AS (
  SELECT doc_id, c, CAST(c * lr AS DECIMAL(20,10)) AS contrib
  FROM per_doc JOIN lr USING (b)
)
SELECT doc_id, CAST(SUM(c) AS INT) AS n_grams,
       ROUND(CAST(SUM(contrib) AS DOUBLE), 6) AS weight
FROM weighted GROUP BY doc_id
""",
)
def q117_dsir_importance_weights(spark, sf_dir):
    """DSIR-style data selection (Xie et al. 2023): hashed n-gram
    importance weights log p_target/p_raw summed over each document's
    unigram+bigram features, with the English subset as the target
    distribution. High-weight docs look like the target domain and get
    selected for training. Features hash into 256 buckets with the
    engine-portable md5 char-fold (`operators/dedup.py`), so BOTH
    engines build bit-identical bucket distributions — the oracle
    value-checks feature hashing, Laplace smoothing, and the weight sum.
    Scale shape: one (doc, bucket) aggregate over the exploded grams
    (map-side combinable; bucket count fixed at 256), bucket log-ratio
    table is 256 rows broadcast back, per-doc weight sums DECIMAL-cast
    contributions — order-independent at any partitioning. The gram
    relation never materializes: explode -> hash -> aggregate pipelines
    in one stage."""
    from variantcalling_spark.operators.dedup import portable_string_hash

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    w = docs.select("doc_id", "lang", F.split("text", " ").alias("w"))
    uni = w.select("doc_id", "lang", F.explode("w").alias("gram"))
    bi = w.where(F.size("w") >= 2).select(
        "doc_id",
        "lang",
        F.explode(
            F.expr(
                "transform(sequence(0, size(w) - 2),"
                " i -> concat(element_at(w, i + 1), ' ', element_at(w, i + 2)))"
            )
        ).alias("gram"),
    )
    grams = uni.unionByName(bi)
    per_doc = (
        grams.select(
            "doc_id", "lang", (portable_string_hash(F.col("gram")) % 256).alias("b")
        )
        .groupBy("doc_id", "lang", "b")
        .agg(F.count(F.lit(1)).alias("c"))
        .transform(managed_persist)
    )
    raw = per_doc.groupBy("b").agg(F.sum("c").alias("cr"))
    tgt = per_doc.where(F.col("lang") == "en").groupBy("b").agg(F.sum("c").alias("ct"))
    tots = per_doc.agg(
        F.sum("c").alias("tr"),
        F.sum(F.when(F.col("lang") == "en", F.col("c"))).alias("tt"),
    )
    lr = (
        raw.join(tgt, "b", "left")
        .crossJoin(F.broadcast(tots))
        .select(
            "b",
            (
                F.log((F.coalesce(F.col("ct"), F.lit(0)) + 1) / (F.col("tt") + 256.0))
                - F.log((F.col("cr") + 1) / (F.col("tr") + 256.0))
            ).alias("lr"),
        )
    )
    weighted = per_doc.join(F.broadcast(lr), "b").select(
        "doc_id", "c", (F.col("c") * F.col("lr")).cast("decimal(20,10)").alias("contrib")
    )
    return weighted.groupBy("doc_id").agg(
        F.sum("c").cast("int").alias("n_grams"),
        F.round(F.sum("contrib").cast("double"), 6).alias("weight"),
    )


@query(
    "q126_bpe_merge_mining",
    oracle="""
WITH words AS (
  SELECT unnest(string_split(text, ' ')) AS w FROM documents
),
pairs AS (
  SELECT unnest([substr(w, i, 2) for i in generate_series(1, length(w) - 1)]) AS pair
  FROM words WHERE length(w) >= 2
),
counts AS (SELECT pair, COUNT(*) AS n FROM pairs GROUP BY pair)
SELECT pair, n,
       CAST(ROW_NUMBER() OVER (ORDER BY n DESC, pair) AS INT) AS rank
FROM counts QUALIFY rank <= 20
""",
)
def q126_bpe_merge_mining(spark, sf_dir):
    """Tokenizer induction's inner loop — BPE merge-pair mining: count
    every adjacent symbol pair inside words across the corpus and rank
    the top candidates (each top pair becomes the next merge rule when
    training a BPE vocabulary). One exploded projection (adjacent pairs
    via substr over a sequence — pure JVM) + one map-side-combinable
    count + a top-k over the tiny pair-vocabulary aggregate. At corpus
    scale the shuffle carries one row per DISTINCT pair per partition
    (alphabet-squared bounded), never per occurrence."""
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(F.explode(F.split("text", " ")).alias("w")).where(
        F.length("w") >= 2
    )
    pairs = words.select(
        F.explode(
            F.expr("transform(sequence(1, length(w) - 1), i -> substr(w, i, 2))")
        ).alias("pair")
    )
    counts = pairs.groupBy("pair").agg(F.count(F.lit(1)).alias("n"))
    from pyspark.sql import Window as W

    return (
        counts.withColumn(
            "rank",
            F.row_number().over(W.orderBy(F.col("n").desc(), "pair")).cast("int"),
        )
        .where(F.col("rank") <= 20)
    )


@query(
    "q130_perplexity_buckets",
    oracle="""
WITH words AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
),
freq AS (SELECT w, COUNT(*) AS c FROM words GROUP BY w),
total AS (SELECT SUM(c) AS n FROM freq),
scored AS (
  SELECT words.doc_id,
         CAST(-log10(freq.c / CAST(total.n AS DOUBLE)) AS DECIMAL(18,12)) AS nll
  FROM words JOIN freq ON words.w = freq.w CROSS JOIN total
),
per_doc AS (
  SELECT doc_id, ROUND(CAST(SUM(nll) AS DOUBLE) / COUNT(*), 6) AS avg_nll
  FROM scored GROUP BY doc_id
),
tiled AS (
  SELECT d.lang, p.doc_id, p.avg_nll,
         NTILE(3) OVER (PARTITION BY d.lang ORDER BY p.avg_nll, p.doc_id) AS t
  FROM per_doc p JOIN documents d USING (doc_id)
)
SELECT lang,
       CASE t WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS ppl_bucket,
       COUNT(*) AS n_docs,
       ROUND(CAST(SUM(CAST(avg_nll AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6) AS mean_nll
FROM tiled GROUP BY 1, 2
""",
)
def q130_perplexity_buckets(spark, sf_dir):
    """CCNet-style perplexity bucketing: per-doc unigram-LM mean NLL
    (q97's scoring) split into head/middle/tail tertiles WITHIN each
    language — the standard language-balanced quality partition used to
    sample training mixes (head = most-fluent third). Tertiles are exact
    NTILE(3) with a full (avg_nll, doc_id) tie-break so both engines
    tile identically. Scale: the LM join is a broadcast of the
    vocabulary-sized frequency table; the tertile window partitions by
    language — at web scale the production variant replaces the exact
    per-language sort with sampled quantile cutpoints (one
    approxQuantile pass + a stateless bucket projection), trading exact
    tertile boundaries for no large sort; the bucketing semantics are
    otherwise identical."""
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    words = docs.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
    freq = words.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    total = freq.agg(F.sum("c").alias("n"))
    per_doc = (
        words.join(F.broadcast(freq), "w")
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            (-F.log10(F.col("c") / F.col("n").cast("double")))
            .cast("decimal(18,12)")
            .alias("nll"),
        )
        .groupBy("doc_id")
        .agg(
            F.round(F.sum("nll").cast("double") / F.count(F.lit(1)), 6).alias(
                "avg_nll"
            )
        )
    )
    tiled = per_doc.join(docs.select("doc_id", "lang"), "doc_id").select(
        "lang",
        "avg_nll",
        F.ntile(3)
        .over(W.partitionBy("lang").orderBy("avg_nll", "doc_id"))
        .alias("t"),
    )
    return tiled.groupBy(
        "lang",
        F.when(F.col("t") == 1, "head")
        .when(F.col("t") == 2, "middle")
        .otherwise("tail")
        .alias("ppl_bucket"),
    ).agg(
        cnt("n_docs"),
        F.round(
            F.sum(F.col("avg_nll").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("mean_nll"),
    )


@query(
    "q133_decontamination_spans",
    oracle="""
WITH bench AS (
  SELECT DISTINCT shingle FROM (
    SELECT unnest([array_to_string(w[i+1:i+3], ' ')
                   for i in generate_series(0, len(w) - 3)]) AS shingle
    FROM (SELECT string_split(text, ' ') AS w FROM documents WHERE doc_id % 97 = 0)
    WHERE len(w) >= 3
  )
),
toks AS (
  SELECT doc_id, string_split(text, ' ') AS w
  FROM documents WHERE doc_id % 97 <> 0
),
sh AS (
  SELECT doc_id, CAST(i AS INT) AS pos,
         array_to_string(w[i+1:i+3], ' ') AS shingle
  FROM toks, UNNEST(range(CAST(len(w) AS BIGINT) - 2)) AS r(i)
  WHERE len(w) >= 3
),
cov AS (
  SELECT DISTINCT s.doc_id, s.pos + CAST(j AS INT) AS tpos
  FROM sh s JOIN bench b USING (shingle), UNNEST(range(3)) AS u(j)
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
def q133_decontamination_spans(spark, sf_dir):
    """Span-level decontamination: the exact token spans of each
    training document covered by a word-3-gram that appears in the
    benchmark set (every 97th doc — q75's fixture). q75 flags whole
    documents; this emits the leaked passages for CUTTING, the
    eval-contamination remover that keeps the clean 99% of a
    contaminated page. The benchmark shingle set broadcasts (eval
    suites are megabytes against terabytes of corpus), so the training
    scan never shuffles for the probe; span assembly is the per-doc
    interval merge shared with q114 — and the oracle recomputes the
    explode+islands form, value-proving the merge-form equivalence on
    this query too."""
    from variantcalling_spark.operators.dedup import contaminated_substring_spans

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return contaminated_substring_spans(
        docs.where(F.col("doc_id") % 97 != 0),
        docs.where(F.col("doc_id") % 97 == 0),
        k=3,
    )


def _weighted_sample_oracle_sql(k: int = 50) -> str:
    from variantcalling_spark.operators.dedup import PORTABLE_HASH_SQL

    ph = PORTABLE_HASH_SQL.format(col="CAST(doc_id AS STRING)")
    return f"""
WITH w AS (
  SELECT doc_id, CAST(doc_id % 10 + 1 AS INT) AS weight,
         ({ph} + 1) / 2147483648.0 AS u
  FROM documents
),
keyed AS (
  SELECT doc_id, weight, ln(u) / weight AS skey FROM w
)
SELECT doc_id, weight, skey
FROM keyed ORDER BY skey DESC, doc_id LIMIT {k}
"""


@query("q138_weighted_sample", oracle=_weighted_sample_oracle_sql())
def q138_weighted_sample(spark, sf_dir):
    """Weighted sampling without replacement, Efraimidis-Spirakis A-ES:
    each doc draws a deterministic uniform u from an md5-based hash of
    its id and competes with key = ln(u)/weight; the global top-k by key
    is EXACTLY a weighted sample without replacement (the one-pass,
    merge-able formulation every distributed sampler uses — per-partition
    top-k heaps merge on the driver, which is what Spark's sort+limit
    physical plan does). Weights here derive from the id so both engines
    agree; production plugs in quality scores. The sample is
    reproducible run-to-run and engine-to-engine — the property a
    training-data pipeline needs for auditability."""
    from variantcalling_spark.operators.dedup import portable_string_hash

    docs = load_table(spark, sf_dir, "documents")
    w = (F.col("doc_id") % 10 + 1).cast("int")
    u = (portable_string_hash(F.col("doc_id").cast("string")) + 1) / F.lit(
        2147483648.0
    )
    keyed = docs.select(
        "doc_id",
        w.alias("weight"),
        (F.log(u) / w).alias("skey"),
    )
    return keyed.orderBy(F.col("skey").desc(), "doc_id").limit(50)


@query(
    "q140_perplexity_cutpoint_buckets",
    oracle="""
WITH words AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
),
freq AS (SELECT w, COUNT(*) AS c FROM words GROUP BY w),
total AS (SELECT SUM(c) AS n FROM freq),
scored AS (
  SELECT words.doc_id,
         CAST(-log10(freq.c / CAST(total.n AS DOUBLE)) AS DECIMAL(18,12)) AS nll
  FROM words JOIN freq ON words.w = freq.w CROSS JOIN total
),
per_doc AS (
  SELECT doc_id, ROUND(CAST(SUM(nll) AS DOUBLE) / COUNT(*), 6) AS avg_nll
  FROM scored GROUP BY doc_id
),
langd AS (
  SELECT d.lang, p.doc_id, p.avg_nll
  FROM per_doc p JOIN documents d USING (doc_id)
),
cuts AS (
  SELECT lang,
         ROUND(CAST(quantile_cont(avg_nll, 1.0/3) AS DOUBLE), 6) AS cut_lo,
         ROUND(CAST(quantile_cont(avg_nll, 2.0/3) AS DOUBLE), 6) AS cut_hi
  FROM langd GROUP BY lang
)
SELECT l.lang,
       CASE WHEN l.avg_nll <= c.cut_lo THEN 'head'
            WHEN l.avg_nll <= c.cut_hi THEN 'middle'
            ELSE 'tail' END AS ppl_bucket,
       COUNT(*) AS n_docs,
       c.cut_lo, c.cut_hi
FROM langd l JOIN cuts c USING (lang)
GROUP BY l.lang, 2, c.cut_lo, c.cut_hi
""",
)
def q140_perplexity_cutpoint_buckets(spark, sf_dir):
    """q130's language-balanced perplexity partition via QUANTILE
    CUTPOINTS instead of an exact per-language NTILE sort — the
    production shape q130's docstring promised: one percentile
    aggregate per language (map-side combinable sketch input), then a
    STATELESS bucket projection against the broadcast cutpoints. No
    per-language global sort ever happens, so the plan is
    insensitive to language skew (one giant language no longer owns one
    giant sorted partition). Exact interpolated percentiles here so the
    oracle is value-checkable (DuckDB quantile_cont, same type-7
    definition); at web scale approxQuantile is the drop-in with the
    identical downstream projection."""
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
    freq = words.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    total = freq.agg(F.sum("c").alias("n"))
    per_doc = (
        words.join(F.broadcast(freq), "w")
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            (-F.log10(F.col("c") / F.col("n").cast("double")))
            .cast("decimal(18,12)")
            .alias("nll"),
        )
        .groupBy("doc_id")
        .agg(
            F.round(F.sum("nll").cast("double") / F.count(F.lit(1)), 6).alias(
                "avg_nll"
            )
        )
    )
    langd = per_doc.join(docs.select("doc_id", "lang"), "doc_id")
    cuts = langd.groupBy("lang").agg(
        F.round(F.percentile("avg_nll", F.lit(1.0) / 3), 6).alias("cut_lo"),
        F.round(F.percentile("avg_nll", F.lit(2.0) / 3), 6).alias("cut_hi"),
    )
    bucket = (
        F.when(F.col("avg_nll") <= F.col("cut_lo"), "head")
        .when(F.col("avg_nll") <= F.col("cut_hi"), "middle")
        .otherwise("tail")
    )
    return (
        langd.join(F.broadcast(cuts), "lang")
        .select("lang", bucket.alias("ppl_bucket"), "cut_lo", "cut_hi")
        .groupBy("lang", "ppl_bucket", "cut_lo", "cut_hi")
        .agg(cnt("n_docs"))
        .select("lang", "ppl_bucket", "n_docs", "cut_lo", "cut_hi")
    )


@query(
    "q136_curriculum_phases",
    oracle="""
WITH t AS (
  SELECT doc_id,
         len(string_split(text, ' ')) AS n_tokens,
         ROUND(len(list_distinct(string_split(text, ' ')))
               / CAST(len(string_split(text, ' ')) AS DOUBLE), 6) AS quality
  FROM documents
),
ordered AS (
  SELECT doc_id, n_tokens, quality,
         SUM(n_tokens) OVER (ORDER BY quality DESC, doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum_tokens
  FROM t
)
SELECT CAST((cum_tokens - 1) // 4000 AS INT) AS phase,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS phase_tokens,
       ROUND(CAST(SUM(CAST(quality AS DECIMAL(12,6))) AS DOUBLE) / COUNT(*), 6)
         AS mean_quality,
       MIN(doc_id) AS first_doc
FROM ordered GROUP BY 1
""",
)
def q136_curriculum_phases(spark, sf_dir):
    """Curriculum phase assignment: documents ranked by a quality signal
    (lexical diversity) feed training phases of a fixed token budget
    (4000 tokens/phase) — highest-quality data in the earliest phases,
    each phase's manifest deterministic and reproducible. The running
    token total is a GLOBAL cumsum, decomposed two-level so no window
    ever owns the corpus (the fasta/pileup prefix-sum shape): quality
    buckets (a monotone function of the sort key) get per-bucket totals,
    the tiny bucket table prefix-sums at driver scale, and the
    within-bucket windows partition by bucket — a naive
    ``Window.orderBy(quality)`` would move every row to ONE partition.
    Output: per phase, doc count, token mass, mean quality, first
    manifest entry."""
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.split("text", " ").alias("ws")
    ).select(
        "doc_id",
        F.size("ws").alias("n_tokens"),
        F.round(
            F.size(F.array_distinct("ws")) / F.size("ws").cast("double"), 6
        ).alias("quality"),
    )
    # bucket key: monotone non-increasing in quality, so (qb asc,
    # quality desc, doc_id) == the global (quality desc, doc_id) order
    # and equal-quality docs can never straddle a bucket
    t = toks.withColumn(
        "qb", F.floor((1 - F.col("quality")) * 50).cast("int")
    )
    btot = t.groupBy("qb").agg(F.sum("n_tokens").alias("blen"))
    wb = W.orderBy("qb")  # <= 51 rows: bucket-prefix stage is tiny
    bpre = btot.select(
        "qb",
        F.coalesce(
            F.sum("blen").over(wb.rowsBetween(W.unboundedPreceding, -1)),
            F.lit(0),
        ).alias("bprefix"),
    )
    ww = W.partitionBy("qb").orderBy(
        F.col("quality").desc(), "doc_id"
    ).rowsBetween(W.unboundedPreceding, W.currentRow)
    ordered = t.join(F.broadcast(bpre), "qb").withColumn(
        "cum_tokens", F.sum("n_tokens").over(ww) + F.col("bprefix")
    )
    return (
        ordered.select(
            ((F.col("cum_tokens") - 1) / 4000).cast("int").alias("phase"),
            "doc_id",
            "n_tokens",
            "quality",
        )
        .groupBy("phase")
        .agg(
            cnt("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("phase_tokens"),
            F.round(
                F.sum(F.col("quality").cast("decimal(12,6)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("mean_quality"),
            F.min("doc_id").alias("first_doc"),
        )
    )


@query(
    "q141_vocab_oov",
    oracle="""
WITH words AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
),
freq AS (SELECT w, COUNT(*) AS c FROM words GROUP BY w),
vocab AS (
  SELECT w FROM freq ORDER BY c DESC, w LIMIT 40
),
flagged AS (
  SELECT words.doc_id,
         CASE WHEN vocab.w IS NULL THEN 1 ELSE 0 END AS oov
  FROM words LEFT JOIN vocab ON words.w = vocab.w
),
per_doc AS (
  SELECT doc_id, COUNT(*) AS n_tok, SUM(oov) AS n_oov FROM flagged
  GROUP BY doc_id
),
d AS (SELECT lang, doc_id FROM documents)
SELECT d.lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
       CAST(SUM(n_oov) AS BIGINT) AS oov_tokens,
       ROUND(SUM(n_oov) / CAST(SUM(n_tok) AS DOUBLE), 6) AS oov_rate
FROM per_doc JOIN d USING (doc_id)
GROUP BY d.lang
""",
)
def q141_vocab_oov(spark, sf_dir):
    """Vocabulary truncation + OOV accounting (the tokenizer-budget
    question: what does a size-V vocab cost per language?): corpus
    token frequencies -> deterministic top-V vocabulary (frequency then
    lexicographic tie-break) -> per-language OOV token rates under that
    vocab. The vocabulary is an orderBy+limit (top-V via partial
    per-partition heaps, never a full sort materialized) broadcast to a
    stateless membership projection — the corpus is scanned once and
    never shuffled on content."""
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
    vocab = (
        words.groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), "w")
        .limit(40)
        .select("w", F.lit(1).alias("in_vocab"))
    )
    flagged = words.join(F.broadcast(vocab), "w", "left")
    per_doc = flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tok"),
        F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0)).alias("n_oov"),
    )
    return (
        per_doc.join(docs.select("doc_id", "lang"), "doc_id")
        .groupBy("lang")
        .agg(
            cnt("n_docs"),
            F.sum("n_tok").cast("bigint").alias("total_tokens"),
            F.sum("n_oov").cast("bigint").alias("oov_tokens"),
            F.round(
                F.sum("n_oov") / F.sum("n_tok").cast("double"), 6
            ).alias("oov_rate"),
        )
    )


@query(
    "q147_bpe_encode",
    oracle="""
WITH RECURSIVE pairs AS (
  SELECT unnest([substr(w, i, 2) for i in generate_series(1, length(w) - 1)]) AS pair
  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
  WHERE length(w) >= 2
),
mined AS (
  SELECT substr(pair, 1, 1) || '|' || substr(pair, 2, 1) AS pair,
         CAST(ROW_NUMBER() OVER (ORDER BY n DESC, pair) AS INT) AS prio
  FROM (SELECT pair, COUNT(*) AS n FROM pairs GROUP BY pair)
  QUALIFY prio <= 8
),
vocab AS (
  SELECT DISTINCT w FROM (
    SELECT unnest(string_split(text, ' ')) AS w FROM documents
  ) WHERE w <> ''
),
enc AS (
  -- merge-all-per-pass (GPT-2/HF semantics): wrap every symbol as
  -- \x1f sym \x1f (boundary \x1f\x1f between symbols), then one
  -- replace() of \x1f u \x1f\x1f v \x1f -> \x1f uv \x1f merges ALL
  -- greedy left-to-right non-overlapping occurrences of the chosen
  -- pair, exactly the kernel's per-pass step
  SELECT w, string_split(w, '') AS syms FROM vocab
  UNION ALL
  SELECT e.w,
    string_split(
      substr(m2.merged, 2, length(m2.merged) - 2), chr(31) || chr(31)
    ) AS syms
  FROM enc e,
  LATERAL (
    SELECT MIN(m.prio) AS best
    FROM unnest(generate_series(1, len(e.syms) - 1)) AS t(i)
    JOIN mined m ON m.pair = e.syms[i] || '|' || e.syms[i + 1]
  ) b,
  LATERAL (
    SELECT m.pair AS bp FROM mined m WHERE m.prio = b.best
  ) bp,
  LATERAL (
    SELECT replace(
      chr(31) || array_to_string(e.syms, chr(31) || chr(31)) || chr(31),
      chr(31) || replace(bp.bp, '|', chr(31) || chr(31)) || chr(31),
      chr(31) || replace(bp.bp, '|', '') || chr(31)
    ) AS merged
  ) m2
  WHERE b.best IS NOT NULL
),
final AS (
  SELECT w, len(syms) AS n_sym FROM enc e
  WHERE NOT EXISTS (
    SELECT 1 FROM unnest(generate_series(1, len(e.syms) - 1)) AS t(i)
    JOIN mined m ON m.pair = e.syms[i] || '|' || e.syms[i + 1]
  )
),
docw AS (
  SELECT doc_id, w FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
  ) WHERE w <> ''
)
SELECT doc_id,
       COUNT(*) AS n_words,
       CAST(SUM(length(w)) AS BIGINT) AS n_chars,
       CAST(SUM(n_sym) AS BIGINT) AS n_tokens
FROM docw JOIN final USING (w)
GROUP BY doc_id
""",
)
def q147_bpe_encode(spark, sf_dir):
    """BPE ENCODING value-proven end-to-end: the top-8 merge rules are
    mined from the corpus (q126's counting pass, rank = priority), then
    applied to every word by the iterative `apply_bpe_merges` kernel —
    and the ORACLE replays the identical merge loop as a recursive SQL
    CTE (best-priority pair chosen per pass, ALL its non-overlapping
    occurrences merged left-to-right via a boundary-wrapped replace()
    — the GPT-2/HF reference semantics), so the Python kernel's
    per-pass semantics are value-checked, not just spot-tested. The
    mined merge table is a driver-collected 8-row codebook (the IVF/PQ
    bounded-driver-state pattern); the kernel encodes each document's
    words in Arrow batches. Output: per-doc word/char/BPE-token counts
    — the before/after compression ledger of a tokenizer change."""
    from pyspark.sql import Window as W

    from variantcalling_spark.operators.kernels import apply_bpe_merges

    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(F.explode(F.split("text", " ")).alias("w")).where(
        F.length("w") >= 2
    )
    pair_counts = (
        words.select(
            F.explode(
                F.expr("transform(sequence(1, length(w) - 1), i -> substr(w, i, 2))")
            ).alias("pair")
        )
        .groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    top = (
        pair_counts.withColumn(
            "prio", F.row_number().over(W.orderBy(F.col("n").desc(), "pair"))
        )
        .where(F.col("prio") <= 8)
        .orderBy("prio")
        .collect()
    )
    merges = [(r.pair[0], r.pair[1]) for r in top]
    enc = apply_bpe_merges(docs, merges)
    chars = docs.select(
        "doc_id",
        F.length(F.regexp_replace("text", " ", "")).cast("bigint").alias("n_chars"),
    )
    return (
        enc.join(chars, "doc_id")
        # the oracle's docw JOIN emits no row for documents with zero
        # non-empty words; drop the kernel's (0,0) rows to match on any
        # corpus, not just one that happens to lack empty documents
        .where(F.col("n_words") > 0)
        .select(
            "doc_id",
            F.col("n_words").cast("long").alias("n_words"),
            "n_chars",
            F.col("n_tokens").cast("bigint").alias("n_tokens"),
        )
    )


@query(
    "q154_distinct_ngram_diversity",
    oracle="""
WITH tok AS (SELECT lang, string_split(text, ' ') AS ws FROM documents),
grams AS (
  SELECT lang, 1 AS n, unnest(ws) AS gram FROM tok
  UNION ALL
  SELECT lang, 2 AS n,
         unnest([ws[i] || ' ' || ws[i+1]
                 for i in generate_series(1, len(ws) - 1)]) AS gram
  FROM tok
  UNION ALL
  SELECT lang, 3 AS n,
         unnest([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                 for i in generate_series(1, len(ws) - 2)]) AS gram
  FROM tok
)
SELECT lang, CAST(n AS INT) AS n,
       COUNT(*) AS total_ngrams,
       CAST(COUNT(DISTINCT gram) AS BIGINT) AS distinct_ngrams,
       ROUND(COUNT(DISTINCT gram) / CAST(COUNT(*) AS DOUBLE), 6)
         AS distinct_ratio
FROM grams GROUP BY lang, n
""",
)
def q154_distinct_ngram_diversity(spark, sf_dir):
    """Corpus diversity profile: distinct-n ratio (unique n-grams over
    total n-grams, n = 1..3) per language slice — the standard
    repetitiveness/diversity dial a curation pipeline reads before
    setting dedup aggressiveness (low distinct-2/3 means boilerplate-
    heavy slices; the generation-side metric of the same name guards
    against mode collapse). Single corpus scan: the split stages once
    per row (the q78 rule), each n-gram family builds as per-row array
    algebra TAGGED with its n, and one explode of the concatenated
    tagged arrays feeds one (lang, n) aggregate — count-distinct is the
    only shuffle, on cardinality bounded by the vocabulary, not the
    corpus. At 100 TB swap exact COUNT(DISTINCT) for HLL
    (approx_count_distinct) without touching the plan shape."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("lang", F.split("text", " ").alias("ws"))
    w = F.col("ws")

    def ngrams(n: int):
        arr = F.when(
            F.size(w) >= n,
            F.transform(
                F.sequence(F.lit(0), F.size(w) - n),
                lambda i: F.array_join(F.slice(w, i + 1, n), " "),
            ),
        ).otherwise(F.array().cast("array<string>"))
        return F.transform(
            arr, lambda g: F.struct(F.lit(n).cast("int").alias("n"), g.alias("gram"))
        )

    tagged = tok.select(
        "lang", F.explode(F.concat(ngrams(1), ngrams(2), ngrams(3))).alias("t")
    )
    return (
        tagged.select("lang", F.col("t.n").alias("n"), F.col("t.gram").alias("gram"))
        .groupBy("lang", "n")
        .agg(
            cnt("total_ngrams"),
            F.count_distinct("gram").cast("bigint").alias("distinct_ngrams"),
            F.round(
                F.count_distinct("gram") / F.count(F.lit(1)).cast("double"), 6
            ).alias("distinct_ratio"),
        )
    )


@query(
    "q160_source_vocab_overlap",
    oracle="""
WITH sv AS (
  SELECT DISTINCT source, unnest(string_split(text, ' ')) AS word
  FROM documents
),
sz AS (SELECT source, COUNT(*) AS n_words FROM sv GROUP BY source),
shared AS (
  SELECT a.source AS source_a, b.source AS source_b, COUNT(*) AS n_shared
  FROM sv a JOIN sv b ON a.word = b.word AND a.source < b.source
  GROUP BY a.source, b.source
)
SELECT s.source_a, s.source_b,
       za.n_words AS n_words_a, zb.n_words AS n_words_b, s.n_shared,
       ROUND(s.n_shared
             / CAST(za.n_words + zb.n_words - s.n_shared AS DOUBLE), 6)
         AS jaccard
FROM shared s
JOIN sz za ON za.source = s.source_a
JOIN sz zb ON zb.source = s.source_b
""",
)
def q160_source_vocab_overlap(spark, sf_dir):
    """Lexical domain-overlap matrix: pairwise vocabulary Jaccard
    between sources — the word-level complement of q158's embedding
    centroid similarity (two 'domains' sharing most of their vocabulary
    are one distribution for mixing purposes; near-zero overlap means a
    language/register boundary worth stratifying on). Plan: one scan to
    the distinct (source, word) relation — vocabulary-sized, not
    corpus-sized — then the pairwise intersection is an equi-join ON
    THE WORD (each vocabulary entry emits only the source pairs that
    actually share it; never a source x source cross of full
    vocabularies), and per-source sizes join back broadcast-tiny.
    Identical shape to the PPJoin shared-shingle count at the heart of
    q65, lifted from documents to domains."""
    docs = load_table(spark, sf_dir, "documents")
    sv = (
        docs.select("source", F.explode(F.split("text", " ")).alias("word"))
        .distinct()
        .transform(managed_persist)
    )
    sz = sv.groupBy("source").agg(cnt("n_words"))
    a = sv.select(F.col("source").alias("source_a"), "word")
    b = sv.select(F.col("source").alias("source_b"), "word")
    shared = (
        a.join(b, "word")
        .where(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(cnt("n_shared"))
    )
    return (
        shared.join(
            F.broadcast(sz.select(F.col("source").alias("source_a"), F.col("n_words").alias("n_words_a"))),
            "source_a",
        )
        .join(
            F.broadcast(sz.select(F.col("source").alias("source_b"), F.col("n_words").alias("n_words_b"))),
            "source_b",
        )
        .select(
            "source_a",
            "source_b",
            "n_words_a",
            "n_words_b",
            "n_shared",
            F.round(
                F.col("n_shared")
                / (F.col("n_words_a") + F.col("n_words_b") - F.col("n_shared")).cast(
                    "double"
                ),
                6,
            ).alias("jaccard"),
        )
    )


CHI_BUCKET_W = 20
CHI_BUCKETS = 5


@query(
    "q166_chi2_independence",
    oracle=f"""
WITH d AS (
  SELECT lang,
         LEAST(len(string_split(text, ' ')) // {CHI_BUCKET_W}, {CHI_BUCKETS - 1})
           AS bucket
  FROM documents
),
o AS (SELECT lang, bucket, COUNT(*) AS obs FROM d GROUP BY lang, bucket),
r AS (SELECT lang, COUNT(*) AS row_n FROM d GROUP BY lang),
c AS (SELECT bucket, COUNT(*) AS col_n FROM d GROUP BY bucket),
t AS (SELECT COUNT(*) AS n FROM d)
SELECT o.lang, CAST(o.bucket AS BIGINT) AS bucket, o.obs, r.row_n, c.col_n,
       CAST((o.obs * t.n - r.row_n * c.col_n)
            * (o.obs * t.n - r.row_n * c.col_n) AS BIGINT) AS contrib_num,
       CAST(t.n * r.row_n * c.col_n AS BIGINT) AS contrib_den,
       ROUND((o.obs * t.n - r.row_n * c.col_n)
             * (o.obs * t.n - r.row_n * c.col_n)
             / CAST(t.n * r.row_n * c.col_n AS DOUBLE), 6) AS contrib
FROM o JOIN r USING (lang) JOIN c USING (bucket) CROSS JOIN t
""",
)
def q166_chi2_independence(spark, sf_dir):
    """Chi-square test of independence between language and document-
    length bucket — the contingency-table follow-up to q14 (which
    builds the table; this grades it): is length distribution
    independent of language, or does one slice need its own filter
    thresholds? EXACT per-cell contributions via the same rational
    discipline as q153's HWE: (O·N − r·c)² over N·r·c stays in
    bigints, one rounded quotient per cell, Σ contrib_num/contrib_den
    = χ² with (R−1)(C−1) df. Plan: one scan to (lang, bucket), three
    map-side-combinable aggregates, broadcast margins, a 1-row total —
    the observation table never re-pairs."""
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "lang",
        F.least(
            F.size(F.split("text", " ")) / F.lit(CHI_BUCKET_W),
            F.lit(CHI_BUCKETS - 1),
        )
        .cast("bigint")
        .alias("bucket"),
    ).transform(managed_persist)
    o = d.groupBy("lang", "bucket").agg(cnt("obs"))
    r = d.groupBy("lang").agg(cnt("row_n"))
    c = d.groupBy("bucket").agg(cnt("col_n"))
    t = d.agg(F.count(F.lit(1)).alias("n"))
    dev = F.col("obs") * F.col("n") - F.col("row_n") * F.col("col_n")
    den = F.col("n") * F.col("row_n") * F.col("col_n")
    return (
        o.join(F.broadcast(r), "lang")
        .join(F.broadcast(c), "bucket")
        .crossJoin(F.broadcast(t))
        .select(
            "lang",
            "bucket",
            "obs",
            "row_n",
            "col_n",
            (dev * dev).cast("bigint").alias("contrib_num"),
            den.cast("bigint").alias("contrib_den"),
            F.round((dev * dev) / den.cast("double"), 6).alias("contrib"),
        )
    )


@query(
    "q168_vocab_entropy",
    oracle="""
WITH w AS (
  SELECT source, unnest(string_split(text, ' ')) AS word FROM documents
),
c AS (SELECT source, word, COUNT(*) AS cnt FROM w GROUP BY source, word),
t AS (SELECT source, CAST(SUM(cnt) AS BIGINT) AS tot, COUNT(*) AS vocab
      FROM c GROUP BY source)
SELECT c.source,
       CAST(MAX(t.vocab) AS BIGINT) AS vocab_size,
       MAX(t.tot) AS total_tokens,
       CAST(SUM(CAST(ROUND(
         (c.cnt / CAST(t.tot AS DOUBLE)) * ln(CAST(t.tot AS DOUBLE) / c.cnt),
         9) AS DECIMAL(18,9))) AS DOUBLE) AS entropy_nats
FROM c JOIN t ON t.source = c.source
GROUP BY c.source
""",
)
def q168_vocab_entropy(spark, sf_dir):
    """Unigram vocabulary entropy per source — the information-density
    dial (low entropy = templated/boilerplate slice, high = diverse
    prose) that complements q154's distinct-n ratios. The float reduce
    is made ORDER-INDEPENDENT: each word's contribution
    p·ln(1/p) is computed from exact integer ratios (identical doubles
    on both engines), rounded to 9 places, and summed as
    DECIMAL(18,9) — so the entropy total is bit-reproducible no matter
    how partitions combine, the same trick the money aggregates use.
    Plan: one (source, word) count — the only vocab-sized shuffle —
    then a broadcast per-source total and one DECIMAL aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    c = (
        docs.select("source", F.explode(F.split("text", " ")).alias("word"))
        .groupBy("source", "word")
        .agg(cnt("cnt"))
    )
    t = c.groupBy("source").agg(
        F.sum("cnt").cast("bigint").alias("tot"),
        F.count(F.lit(1)).alias("vocab"),
    )
    contrib = F.round(
        (F.col("cnt") / F.col("tot").cast("double"))
        * F.log(F.col("tot").cast("double") / F.col("cnt")),
        9,
    ).cast("decimal(18,9)")
    return (
        c.join(F.broadcast(t), "source")
        .groupBy("source")
        .agg(
            F.max("vocab").cast("bigint").alias("vocab_size"),
            F.max("tot").alias("total_tokens"),
            F.sum(contrib).cast("double").alias("entropy_nats"),
        )
    )


def _rank2_sql(col: str, part: str) -> str:
    """Doubled average rank per distinct value via cumulative counts
    (ties share min_rank+max_rank = 2*below + cnt + 1)."""
    return f"""
  SELECT {part}, {col} AS v,
         2 * COALESCE(SUM(cnt) OVER (PARTITION BY {part} ORDER BY {col}
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           + cnt + 1 AS r2
  FROM (SELECT {part}, {col}, COUNT(*) AS cnt
        FROM pairs GROUP BY {part}, {col})
"""


@query(
    "q170_spearman_correlation",
    oracle=f"""
WITH pairs AS (
  SELECT source,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS x,
         CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS y
  FROM documents
),
rx AS ({_rank2_sql("x", "source")}),
ry AS ({_rank2_sql("y", "source")}),
rnk AS (
  SELECT p.source, rx.r2 AS a, ry.r2 AS b
  FROM pairs p
  JOIN rx ON rx.source = p.source AND rx.v = p.x
  JOIN ry ON ry.source = p.source AND ry.v = p.y
),
s AS (
  SELECT source, COUNT(*) AS n,
         CAST(SUM(a) AS HUGEINT) AS sa, CAST(SUM(b) AS HUGEINT) AS sb,
         CAST(SUM(a * a) AS HUGEINT) AS saa,
         CAST(SUM(a * b) AS HUGEINT) AS sab,
         CAST(SUM(b * b) AS HUGEINT) AS sbb
  FROM rnk GROUP BY source
)
SELECT source, CAST(n AS BIGINT) AS n,
       ROUND(CAST(n * sab - sa * sb AS DOUBLE)
             / (sqrt(CAST(n * saa - sa * sa AS DOUBLE))
                * sqrt(CAST(n * sbb - sb * sb AS DOUBLE))), 6) AS spearman
FROM s
""",
)
def q170_spearman_correlation(spark, sf_dir):
    """Exact Spearman rank correlation per source (token count vs
    distinct-token count — the redundancy signal): Pearson over
    tie-averaged ranks, with ranks computed the SCALABLE way — per
    distinct value from cumulative histogram counts (the q167 trick:
    a tie group's doubled average rank is 2·below + cnt + 1), joined
    back to rows by value. No per-row global sort; the rank relations
    are value-domain-sized. Doubled ranks keep everything integer;
    sufficient statistics go wide (decimal128/HUGEINT) and the single
    rounded closed form matches bit-for-bit (q165's discipline applied
    to rank space). Completes the correlation family: q165 gives the
    parametric line, this gives the monotone-association grade."""
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    # distinct-count needs the split staged once (q78 rule)
    tok = docs.select("source", F.split("text", " ").alias("ws"))
    pairs = tok.select(
        "source",
        F.size("ws").cast("bigint").alias("x"),
        F.size(F.array_distinct("ws")).cast("bigint").alias("y"),
    ).transform(managed_persist)

    def rank2(col):
        cnts = pairs.groupBy("source", col).agg(cnt("cnt"))
        wb = (
            W.partitionBy("source")
            .orderBy(col)
            .rowsBetween(W.unboundedPreceding, -1)
        )
        return cnts.select(
            "source",
            F.col(col).alias("v"),
            (
                2 * F.coalesce(F.sum("cnt").over(wb), F.lit(0).cast("bigint"))
                + F.col("cnt")
                + 1
            ).alias("r2"),
        )

    rnk = (
        pairs.join(
            rank2("x").withColumnRenamed("v", "x").withColumnRenamed("r2", "a"),
            ["source", "x"],
        )
        .join(
            rank2("y").withColumnRenamed("v", "y").withColumnRenamed("r2", "b"),
            ["source", "y"],
        )
        .select("source", "a", "b")
    )
    D = "decimal(38,0)"
    s = rnk.groupBy("source").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("a").cast(D).alias("sa"),
        F.sum("b").cast(D).alias("sb"),
        F.sum(F.col("a") * F.col("a")).cast(D).alias("saa"),
        F.sum(F.col("a") * F.col("b")).cast(D).alias("sab"),
        F.sum(F.col("b") * F.col("b")).cast(D).alias("sbb"),
    )
    n = F.col("n").cast(D)
    num = (n * F.col("sab") - F.col("sa") * F.col("sb")).cast("double")
    da = (n * F.col("saa") - F.col("sa") * F.col("sa")).cast("double")
    db = (n * F.col("sbb") - F.col("sb") * F.col("sb")).cast("double")
    return s.select(
        "source",
        F.col("n").cast("bigint").alias("n"),
        F.round(num / (F.sqrt(da) * F.sqrt(db)), 6).alias("spearman"),
    )


@query(
    "q172_token_gini",
    oracle="""
WITH d AS (
  SELECT doc_id, source,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS v
  FROM documents
),
r AS (
  SELECT source, v,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY v, doc_id) AS i
  FROM d
),
s AS (
  SELECT source,
         COUNT(*) AS n,
         CAST(SUM(v) AS BIGINT) AS sv,
         CAST(SUM(i * v) AS BIGINT) AS siv
  FROM r GROUP BY source
)
SELECT source, CAST(n AS BIGINT) AS n_docs, sv AS total_tokens,
       CAST(2 * siv - (n + 1) * sv AS BIGINT) AS gini_num,
       CAST(n * sv AS BIGINT) AS gini_den,
       ROUND((2 * siv - (n + 1) * sv) / CAST(n * sv AS DOUBLE), 6) AS gini
FROM s
""",
)
def q172_token_gini(spark, sf_dir):
    """Token-mass concentration per source: the Gini coefficient of
    document lengths — is a source's token budget spread across many
    documents or dominated by a few giants (the sampling-strategy
    dial: high-Gini sources need size-stratified sampling or the big
    docs swamp every batch). Exact: with documents sorted by
    (length, doc_id), G = (2·Σi·v_i − (n+1)·Σv_i) / (n·Σv_i) stays a
    bigint rational — the sorted-index formula needs only a per-source
    rank window and two sums, no pairwise |v_i − v_j| expansion. The
    rank window partitions per source; at extreme group sizes the
    histogram-rank trick from q167/q170 substitutes (lengths have a
    bounded domain)."""
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id",
        "source",
        F.size(F.split("text", " ")).cast("bigint").alias("v"),
    )
    r = d.withColumn(
        "i",
        F.row_number().over(W.partitionBy("source").orderBy("v", "doc_id")).cast(
            "bigint"
        ),
    )
    s = r.groupBy("source").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("v").cast("bigint").alias("sv"),
        F.sum(F.col("i") * F.col("v")).cast("bigint").alias("siv"),
    )
    num = 2 * F.col("siv") - (F.col("n") + 1) * F.col("sv")
    den = F.col("n") * F.col("sv")
    return s.select(
        "source",
        F.col("n").cast("bigint").alias("n_docs"),
        F.col("sv").alias("total_tokens"),
        num.cast("bigint").alias("gini_num"),
        den.cast("bigint").alias("gini_den"),
        F.round(num / den.cast("double"), 6).alias("gini"),
    )


@query(
    "q177_zipf_hapax",
    oracle="""
WITH w AS (
  SELECT source, unnest(string_split(text, ' ')) AS word FROM documents
),
c AS (SELECT source, word, COUNT(*) AS cnt FROM w GROUP BY source, word),
r AS (
  SELECT source, cnt,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY cnt DESC, word) AS rnk
  FROM c
),
z AS (
  SELECT source,
         CAST(ROUND(ln(CAST(rnk AS DOUBLE)), 12) AS DECIMAL(28,12)) AS x,
         CAST(ROUND(ln(CAST(cnt AS DOUBLE)), 12) AS DECIMAL(28,12)) AS y,
         CAST(ROUND(ln(CAST(rnk AS DOUBLE)) * ln(CAST(rnk AS DOUBLE)), 12)
              AS DECIMAL(28,12)) AS xx,
         CAST(ROUND(ln(CAST(rnk AS DOUBLE)) * ln(CAST(cnt AS DOUBLE)), 12)
              AS DECIMAL(28,12)) AS xy,
         CASE WHEN cnt = 1 THEN 1 ELSE 0 END AS hapax
  FROM r
),
s AS (
  SELECT source, COUNT(*) AS n,
         CAST(SUM(hapax) AS BIGINT) AS hapax_count,
         CAST(SUM(x) AS DECIMAL(38,12)) AS sx,
         CAST(SUM(y) AS DECIMAL(38,12)) AS sy,
         CAST(SUM(xx) AS DECIMAL(38,12)) AS sxx,
         CAST(SUM(xy) AS DECIMAL(38,12)) AS sxy
  FROM z GROUP BY source
)
SELECT source, CAST(n AS BIGINT) AS vocab_size, hapax_count,
       ROUND(hapax_count / CAST(n AS DOUBLE), 6) AS hapax_ratio,
       ROUND((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)),
             6) AS zipf_slope
FROM s
""",
)
def q177_zipf_hapax(spark, sf_dir):
    """Zipf slope + hapax ratio per source — the two corpus-health
    statistics a data audit reads first (natural prose runs a Zipf
    slope near −1 with a long hapax tail; machine-generated or
    templated slices deviate on both). Exactness by the q168 recipe:
    ln(rank) and ln(count) come from exact integers (identical doubles
    both engines), each OLS term rounds to 12 places and sums as
    DECIMAL — order-independent — and the closed-form slope is rounded
    once. Ranks use the deterministic (count DESC, word) ordering; the
    rank window partitions per source over the VOCABULARY relation,
    never the corpus."""
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    c = (
        docs.select("source", F.explode(F.split("text", " ")).alias("word"))
        .groupBy("source", "word")
        .agg(cnt("cnt"))
    )
    r = c.withColumn(
        "rnk",
        F.row_number().over(
            W.partitionBy("source").orderBy(F.desc("cnt"), "word")
        ),
    )
    DEC = "decimal(28,12)"
    lx = F.log(F.col("rnk").cast("double"))
    ly = F.log(F.col("cnt").cast("double"))
    z = r.select(
        "source",
        F.round(lx, 12).cast(DEC).alias("x"),
        F.round(ly, 12).cast(DEC).alias("y"),
        F.round(lx * lx, 12).cast(DEC).alias("xx"),
        F.round(lx * ly, 12).cast(DEC).alias("xy"),
        F.when(F.col("cnt") == 1, 1).otherwise(0).alias("hapax"),
    )
    s = z.groupBy("source").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("hapax").cast("bigint").alias("hapax_count"),
        F.sum("x").cast("decimal(38,12)").alias("sx"),
        F.sum("y").cast("decimal(38,12)").alias("sy"),
        F.sum("xx").cast("decimal(38,12)").alias("sxx"),
        F.sum("xy").cast("decimal(38,12)").alias("sxy"),
    )
    n = F.col("n")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxx, sxy = F.col("sxx").cast("double"), F.col("sxy").cast("double")
    return s.select(
        "source",
        n.cast("bigint").alias("vocab_size"),
        "hapax_count",
        F.round(F.col("hapax_count") / n.cast("double"), 6).alias("hapax_ratio"),
        F.round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6).alias("zipf_slope"),
    )


LM_LAMBDA = 0.7


@query(
    "q182_bigram_lm_score",
    oracle=f"""
WITH tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
bg AS (
  SELECT doc_id, unnest([w[i] || ' ' || w[i+1]
                         for i in generate_series(1, len(w) - 1)]) AS b
  FROM tok WHERE len(w) >= 2
),
uni AS (
  SELECT unnest(w) AS word FROM tok
),
c1 AS (SELECT word, COUNT(*) AS c FROM uni GROUP BY word),
n1 AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM c1),
c2 AS (SELECT b, COUNT(*) AS c FROM bg GROUP BY b),
ch AS (SELECT string_split(b, ' ')[1] AS w1, CAST(SUM(c) AS BIGINT) AS h
       FROM c2 GROUP BY 1),
scored AS (
  SELECT bg.doc_id,
         CAST(-log10(
           {LM_LAMBDA} * (c2.c / CAST(ch.h AS DOUBLE))
           + {1 - LM_LAMBDA} * (c1.c / CAST(n1.n AS DOUBLE))
         ) AS DECIMAL(18,12)) AS nll
  FROM bg
  JOIN c2 ON c2.b = bg.b
  JOIN ch ON ch.w1 = string_split(bg.b, ' ')[1]
  JOIN c1 ON c1.word = string_split(bg.b, ' ')[2]
  CROSS JOIN n1
)
SELECT doc_id, CAST(COUNT(*) AS INT) AS n_bigrams,
       ROUND(CAST(SUM(nll) AS DOUBLE) / COUNT(*), 6) AS avg_nll
FROM scored GROUP BY doc_id
""",
)
def q182_bigram_lm_score(spark, sf_dir):
    """Interpolated bigram LM scoring — q97's unigram filter upgraded
    one order (the CCNet/KenLM shape: P = λ·P(w2|w1) + (1−λ)·P(w2),
    λ={LM_LAMBDA}; history counts are exact bigram-start totals, so
    the conditional is a true MLE). Repetitive/templated text scores
    LOW nll under its own corpus LM — the inverse signal of the
    quality filters, used together. Same scale shape as q97: model
    tables (unigram, bigram, history) are vocabulary-bounded and
    broadcast; per-token nll doubles land in DECIMAL so the per-doc
    mean is partition-order-independent. The bigram array builds
    per-row (staged split, q78 rule) — no self-join of the token
    stream."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.split("text", " ").alias("w"))
    w = F.col("w")
    bg = (
        tok.where(F.size(w) >= 2)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.size(w) - 2),
                    lambda i: F.array_join(F.slice(w, i + 1, 2), " "),
                )
            ).alias("b"),
        )
        .transform(managed_persist)
    )
    uni = tok.select(F.explode("w").alias("word"))
    c1 = uni.groupBy("word").agg(cnt("c"))
    n1 = c1.agg(F.sum("c").cast("bigint").alias("n"))
    c2 = bg.groupBy("b").agg(cnt("c"))
    ch = (
        c2.select(F.split("b", " ")[0].alias("w1"), "c")
        .groupBy("w1")
        .agg(F.sum("c").cast("bigint").alias("h"))
    )
    scored = (
        bg.withColumn("w1", F.split("b", " ")[0])
        .withColumn("w2", F.split("b", " ")[1])
        .join(F.broadcast(c2), "b")
        .join(F.broadcast(ch), "w1")
        .join(
            F.broadcast(c1.select(F.col("word").alias("w2"), F.col("c").alias("c1"))),
            "w2",
        )
        .crossJoin(F.broadcast(n1))
        .select(
            "doc_id",
            (
                -F.log10(
                    LM_LAMBDA * (F.col("c") / F.col("h").cast("double"))
                    + (1 - LM_LAMBDA) * (F.col("c1") / F.col("n").cast("double"))
                )
            )
            .cast("decimal(18,12)")
            .alias("nll"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_bigrams"),
        F.round(F.sum("nll").cast("double") / F.count(F.lit(1)), 6).alias("avg_nll"),
    )


@query(
    "q183_mad_robust",
    oracle="""
WITH d AS (
  SELECT doc_id, source,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS v
  FROM documents
),
h AS (SELECT source, v, COUNT(*) AS c FROM d GROUP BY source, v),
cum AS (
  SELECT source, v, c,
         SUM(c) OVER (PARTITION BY source ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
         SUM(c) OVER (PARTITION BY source) AS tot
  FROM h
),
med AS (
  SELECT source, MIN(CASE WHEN cw * 2 >= tot THEN v END) AS median
  FROM cum GROUP BY source
),
dev AS (
  SELECT d.source, ABS(d.v - m.median) AS av
  FROM d JOIN med m USING (source)
),
h2 AS (SELECT source, av, COUNT(*) AS c FROM dev GROUP BY source, av),
cum2 AS (
  SELECT source, av, c,
         SUM(c) OVER (PARTITION BY source ORDER BY av
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
         SUM(c) OVER (PARTITION BY source) AS tot
  FROM h2
)
SELECT c2.source, m.median,
       CAST(MIN(CASE WHEN c2.cw * 2 >= c2.tot THEN c2.av END) AS BIGINT) AS mad
FROM cum2 c2 JOIN med m ON m.source = c2.source
GROUP BY c2.source, m.median
""",
)
def q183_mad_robust(spark, sf_dir):
    """Median absolute deviation per source — the robust spread measure
    outlier-heavy corpus slices need (a handful of giant documents
    inflate a standard deviation but leave the MAD untouched). Both
    medians use the histogram form (per-(group, value) counts +
    cumulative threshold pick, the q163/q167 machinery): shuffles are
    value-domain-sized, the deviation pass is one broadcast join of the
    5-row median table, and every pick is an integer comparison — no
    floats anywhere in the statistic."""
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id",
        "source",
        F.size(F.split("text", " ")).cast("bigint").alias("v"),
    ).transform(managed_persist)

    def hist_median(df, col, out):
        h = df.groupBy("source", col).agg(cnt("c"))
        wc = (
            W.partitionBy("source")
            .orderBy(col)
            .rowsBetween(W.unboundedPreceding, 0)
        )
        wt = W.partitionBy("source")
        cum = h.select(
            "source",
            col,
            F.sum("c").over(wc).alias("cw"),
            F.sum("c").over(wt).alias("tot"),
        )
        return cum.groupBy("source").agg(
            F.min(
                F.when(F.col("cw") * 2 >= F.col("tot"), F.col(col))
            ).alias(out)
        )

    med = hist_median(d, "v", "median")
    dev = d.join(F.broadcast(med), "source").select(
        "source", "median", F.abs(F.col("v") - F.col("median")).alias("av")
    )
    mad = hist_median(dev, "av", "mad")
    return (
        med.join(mad, "source")
        .select("source", "median", F.col("mad").cast("bigint").alias("mad"))
    )


TRIM_PCT = 5  # trim 5% from each tail


@query(
    "q184_trimmed_mean",
    oracle=f"""
WITH d AS (
  SELECT source, CAST(len(string_split(text, ' ')) AS BIGINT) AS v
  FROM documents
),
h AS (SELECT source, v, COUNT(*) AS c FROM d GROUP BY source, v),
cum AS (
  SELECT source, v, c,
         SUM(c) OVER (PARTITION BY source ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
         SUM(c) OVER (PARTITION BY source) AS tot
  FROM h
),
kept AS (
  SELECT source, v,
         -- of this value's c copies (ranks cw-c+1 .. cw), keep those
         -- with rank in (lo, tot-lo]: exact per-value kept count
         GREATEST(0, LEAST(cw, tot - (tot * {TRIM_PCT}) // 100)
                     - GREATEST(cw - c, (tot * {TRIM_PCT}) // 100)) AS k
  FROM cum
)
SELECT source,
       CAST(SUM(k) AS BIGINT) AS n_kept,
       CAST(SUM(k * v) AS BIGINT) AS sum_kept,
       ROUND(SUM(k * v) / CAST(SUM(k) AS DOUBLE), 6) AS trimmed_mean
FROM kept WHERE k > 0 GROUP BY source
""",
)
def q184_trimmed_mean(spark, sf_dir):
    """{TRIM_PCT}%-trimmed mean per source — the robust location
    estimate between the mean (outlier-fragile) and the median
    (discards magnitude): drop the lowest and highest {TRIM_PCT}% of
    documents by length, average the rest. Computed WITHOUT sorting
    rows: per-(group, value) counts carry rank RANGES (a value's c
    copies occupy ranks cw−c+1..cw), so the kept count per value is
    interval arithmetic against the two trim cutoffs — integer-exact,
    value-domain-sized, one rounded division at the end. The same
    histogram discipline as q163/q167/q183 — rank logic without a
    rank window over rows."""
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "source", F.size(F.split("text", " ")).cast("bigint").alias("v")
    )
    h = d.groupBy("source", "v").agg(cnt("c"))
    wc = W.partitionBy("source").orderBy("v").rowsBetween(W.unboundedPreceding, 0)
    wt = W.partitionBy("source")
    cum = h.select(
        "source",
        "v",
        "c",
        F.sum("c").over(wc).alias("cw"),
        F.sum("c").over(wt).alias("tot"),
    )
    lo = F.expr(f"(tot * {TRIM_PCT}) DIV 100")
    hi = F.col("tot") - lo
    k = F.greatest(
        F.lit(0).cast("bigint"),
        F.least(F.col("cw"), hi) - F.greatest(F.col("cw") - F.col("c"), lo),
    )
    kept = cum.select("source", "v", k.alias("k")).where(F.col("k") > 0)
    return kept.groupBy("source").agg(
        F.sum("k").cast("bigint").alias("n_kept"),
        F.sum(F.col("k") * F.col("v")).cast("bigint").alias("sum_kept"),
        F.round(
            F.sum(F.col("k") * F.col("v")) / F.sum("k").cast("double"), 6
        ).alias("trimmed_mean"),
    )


@query(
    "q190_quantile_normalization",
    oracle="""
WITH d AS (
  SELECT source, CAST(len(string_split(text, ' ')) AS BIGINT) AS v
  FROM documents
),
h AS (SELECT source, v, COUNT(*) AS c FROM d GROUP BY source, v),
cum AS (
  SELECT source, v, c,
         SUM(c) OVER (PARTITION BY source ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
         SUM(c) OVER (PARTITION BY source) AS ns
  FROM h
),
hp AS (SELECT v, COUNT(*) AS c FROM d GROUP BY v),
cump AS (
  SELECT v AS u,
         SUM(c) OVER (ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cp,
         SUM(c) OVER () AS np
  FROM hp
)
SELECT c1.source, c1.v,
       CAST(c1.c AS BIGINT) AS n_docs,
       CAST(MIN(c2.u) AS BIGINT) AS normalized_v
FROM cum c1 JOIN cump c2
  ON c2.cp * c1.ns >= c1.cw * c2.np
GROUP BY c1.source, c1.v, c1.c
""",
)
def q190_quantile_normalization(spark, sf_dir):
    """Quantile normalization across sources — the batch-effect
    correction classic (microarray heritage, now the distribution-
    alignment step when mixing corpus slices whose length/quality
    distributions must not leak the source): each (source, value) maps
    to the POOLED distribution's value at the same CDF position,
    F_pooled⁻¹(F_source(v)), computed exactly by integer
    cross-multiplication (cp·n_s ≥ cw·n_pool — no float CDF ever
    forms, the q171 trick inverted). Both histograms are value-domain-
    sized; the inverse lookup is a non-equi join of two TINY cumulative
    relations (broadcast pooled side) + a MIN — rows never pair."""
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "source", F.size(F.split("text", " ")).cast("bigint").alias("v")
    ).transform(managed_persist)
    h = d.groupBy("source", "v").agg(cnt("c"))
    wc = W.partitionBy("source").orderBy("v").rowsBetween(W.unboundedPreceding, 0)
    cum = h.select(
        "source",
        "v",
        "c",
        F.sum("c").over(wc).alias("cw"),
        F.sum("c").over(W.partitionBy("source")).alias("ns"),
    )
    hp = d.groupBy("v").agg(cnt("c"))
    wp = W.orderBy("v").rowsBetween(W.unboundedPreceding, 0)
    cump = hp.select(
        F.col("v").alias("u"),
        F.sum("c").over(wp).alias("cp"),
        F.sum("c").over(W.partitionBy()).alias("np"),
    )
    return (
        cum.join(
            F.broadcast(cump),
            F.col("cp") * F.col("ns") >= F.col("cw") * F.col("np"),
        )
        .groupBy("source", "v", "c")
        .agg(F.min("u").cast("bigint").alias("normalized_v"))
        .select(
            "source",
            "v",
            F.col("c").cast("bigint").alias("n_docs"),
            "normalized_v",
        )
    )


PMI_MIN_COUNT = 5


@query(
    "q191_pmi_collocations",
    oracle=f"""
WITH tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
bg AS (
  SELECT unnest([w[i] || ' ' || w[i+1]
                 for i in generate_series(1, len(w) - 1)]) AS b
  FROM tok WHERE len(w) >= 2
),
c2 AS (SELECT b, COUNT(*) AS c FROM bg GROUP BY b HAVING COUNT(*) >= {PMI_MIN_COUNT}),
n2 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM bg),
uni AS (SELECT unnest(w) AS word FROM tok),
c1 AS (SELECT word, COUNT(*) AS c FROM uni GROUP BY word),
n1 AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM c1),
scored AS (
  SELECT c2.b AS bigram, c2.c AS n_pair,
         ROUND(ln((CAST(c2.c AS DOUBLE) / (SELECT n FROM n2))
                  / ((ca.c / CAST((SELECT n FROM n1) AS DOUBLE))
                     * (cb.c / CAST((SELECT n FROM n1) AS DOUBLE)))), 6) AS pmi
  FROM c2
  JOIN c1 ca ON ca.word = string_split(c2.b, ' ')[1]
  JOIN c1 cb ON cb.word = string_split(c2.b, ' ')[2]
)
SELECT bigram, n_pair, pmi,
       CAST(ROW_NUMBER() OVER (ORDER BY pmi DESC, bigram) AS INT) AS rk
FROM scored
QUALIFY rk <= 20
""",
)
def q191_pmi_collocations(spark, sf_dir):
    """Collocation mining: top-20 adjacent word pairs by pointwise
    mutual information (min count {PMI_MIN_COUNT}) — the phrase-
    detection pass (word2phrase / gensim Phrases shape) a tokenization
    pipeline runs before vocabulary induction, and the statistical
    sibling of q126's raw-frequency merge mining (PMI surfaces
    SELECTIVE pairs, not merely frequent ones). The single ln argument
    is one ratio of exact integer products — identical doubles on both
    engines before the rounded compare — and the ranking tie-breaks on
    the bigram string. Counts are vocabulary-bounded; the corpus
    shuffles once for bigram counts, once for unigrams."""
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.split("text", " ").alias("w"))
    w = F.col("w")
    bg = tok.where(F.size(w) >= 2).select(
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size(w) - 2),
                lambda i: F.array_join(F.slice(w, i + 1, 2), " "),
            )
        ).alias("b")
    ).transform(managed_persist)
    c2 = bg.groupBy("b").agg(cnt("c")).where(F.col("c") >= PMI_MIN_COUNT)
    n2 = bg.agg(F.count(F.lit(1)).cast("bigint").alias("n2"))
    uni = tok.select(F.explode("w").alias("word"))
    c1 = uni.groupBy("word").agg(cnt("c1c"))
    n1 = c1.agg(F.sum("c1c").cast("bigint").alias("n1"))
    scored = (
        c2.withColumn("w1", F.split("b", " ")[0])
        .withColumn("w2", F.split("b", " ")[1])
        .join(
            F.broadcast(c1.select(F.col("word").alias("w1"), F.col("c1c").alias("ca"))),
            "w1",
        )
        .join(
            F.broadcast(c1.select(F.col("word").alias("w2"), F.col("c1c").alias("cb"))),
            "w2",
        )
        .crossJoin(F.broadcast(n2))
        .crossJoin(F.broadcast(n1))
        .select(
            F.col("b").alias("bigram"),
            F.col("c").alias("n_pair"),
            F.round(
                F.log(
                    (F.col("c").cast("double") / F.col("n2"))
                    / (
                        (F.col("ca") / F.col("n1").cast("double"))
                        * (F.col("cb") / F.col("n1").cast("double"))
                    )
                ),
                6,
            ).alias("pmi"),
        )
    )
    top = scored.orderBy(F.desc("pmi"), "bigram").limit(20)
    return top.select(
        "bigram",
        "n_pair",
        "pmi",
        F.row_number()
        .over(W.orderBy(F.desc("pmi"), "bigram"))
        .cast("int")
        .alias("rk"),
    )


WILSON_Z2_X100 = 384  # z^2 * 100 for z = 1.96 (3.8416 -> 384/100)


@query(
    "q208_wilson_intervals",
    oracle=f"""
WITH d AS (
  SELECT source,
         COUNT(*) AS n,
         CAST(SUM(CASE WHEN len(string_split(text, ' ')) >= 60
                       THEN 1 ELSE 0 END) AS BIGINT) AS k
  FROM documents GROUP BY source
)
SELECT source, CAST(n AS BIGINT) AS n, k,
       ROUND(k / CAST(n AS DOUBLE), 6) AS p_hat,
       ROUND((100.0 * k + {WILSON_Z2_X100} / 2.0
              - sqrt({WILSON_Z2_X100})
                * sqrt((100.0 * k * (n - k)) / n + {WILSON_Z2_X100} / 4.0))
             / (100.0 * n + {WILSON_Z2_X100}), 6) AS wilson_lo,
       ROUND((100.0 * k + {WILSON_Z2_X100} / 2.0
              + sqrt({WILSON_Z2_X100})
                * sqrt((100.0 * k * (n - k)) / n + {WILSON_Z2_X100} / 4.0))
             / (100.0 * n + {WILSON_Z2_X100}), 6) AS wilson_hi
FROM d
""",
)
def q208_wilson_intervals(spark, sf_dir):
    """Wilson score intervals on per-source pass rates (docs ≥ 60
    tokens as the pass predicate) — the error bars every proportion in
    a QC dashboard should carry (the Wald interval misbehaves at small
    n and extreme p; Wilson is the standard fix). Determinism by
    scaling: z² is carried as the integer {WILSON_Z2_X100}/100, so
    every term inside the two sqrts is an exact integer ratio —
    identical doubles cross-engine — and the interval is two rounded
    expressions. One conditional-count groupBy; the interval math is a
    projection over k rows."""
    docs = load_table(spark, sf_dir, "documents")
    d = docs.groupBy("source").agg(
        cnt("n"),
        F.sum(F.when(F.size(F.split("text", " ")) >= 60, 1).otherwise(0))
        .cast("bigint")
        .alias("k"),
    )
    z2 = float(WILSON_Z2_X100)
    n, k = F.col("n"), F.col("k")
    center = 100.0 * k + z2 / 2.0
    half = F.sqrt(F.lit(z2)) * F.sqrt((100.0 * k * (n - k)) / n + z2 / 4.0)
    den = 100.0 * n + z2
    return d.select(
        "source",
        n.cast("bigint").alias("n"),
        "k",
        F.round(k / n.cast("double"), 6).alias("p_hat"),
        F.round((center - half) / den, 6).alias("wilson_lo"),
        F.round((center + half) / den, 6).alias("wilson_hi"),
    )


EMERGE_MIN_COUNT = 10


@query(
    "q209_emerging_terms",
    oracle=f"""
WITH w AS (
  SELECT CASE WHEN doc_id % 2 = 0 THEN 'early' ELSE 'late' END AS half,
         unnest(string_split(text, ' ')) AS word
  FROM documents
),
c AS (
  SELECT half, word, COUNT(*) AS cnt FROM w GROUP BY half, word
  HAVING COUNT(*) >= {EMERGE_MIN_COUNT}
),
r AS (
  SELECT half, word, cnt,
         CAST(ROW_NUMBER() OVER (PARTITION BY half ORDER BY cnt DESC, word)
              AS BIGINT) AS rnk
  FROM c
),
j AS (
  SELECT e.word, e.cnt AS cnt_early, l.cnt AS cnt_late,
         e.rnk AS rank_early, l.rnk AS rank_late,
         e.rnk - l.rnk AS rank_gain
  FROM r e JOIN r l ON l.word = e.word
  WHERE e.half = 'early' AND l.half = 'late'
)
SELECT word, cnt_early, cnt_late, rank_early, rank_late, rank_gain,
       CAST(ROW_NUMBER() OVER (ORDER BY rank_gain DESC, word) AS INT) AS rk
FROM j
QUALIFY rk <= 15
""",
)
def q209_emerging_terms(spark, sf_dir):
    """Emerging-terms report: words whose frequency RANK improved most
    between the early and late halves of the corpus — the trending-
    vocabulary dial a continuously-crawled corpus watches (new jargon,
    spam campaigns, topic drift; rank deltas are robust where raw
    count deltas just echo volume changes). Per-half counts with a
    min-count floor, one rank window per half over the floored
    VOCABULARY (never the token stream), a self-join on the word, and
    a top-15 by rank gain with deterministic tie-breaks. The q177/
    q191 vocabulary-relation discipline applied to change over
    time."""
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    w = docs.select(
        F.when(F.col("doc_id") % 2 == 0, "early").otherwise("late").alias("half"),
        F.explode(F.split("text", " ")).alias("word"),
    )
    c = (
        w.groupBy("half", "word")
        .agg(cnt("cnt"))
        .where(F.col("cnt") >= EMERGE_MIN_COUNT)
    )
    r = c.withColumn(
        "rnk",
        F.row_number()
        .over(W.partitionBy("half").orderBy(F.desc("cnt"), "word"))
        .cast("bigint"),
    ).transform(managed_persist)
    e = r.where(F.col("half") == "early").select(
        "word", F.col("cnt").alias("cnt_early"), F.col("rnk").alias("rank_early")
    )
    late = r.where(F.col("half") == "late").select(
        "word", F.col("cnt").alias("cnt_late"), F.col("rnk").alias("rank_late")
    )
    j = e.join(late, "word").withColumn(
        "rank_gain", F.col("rank_early") - F.col("rank_late")
    )
    top = j.orderBy(F.desc("rank_gain"), "word").limit(15)
    return top.select(
        "word",
        "cnt_early",
        "cnt_late",
        "rank_early",
        "rank_late",
        "rank_gain",
        F.row_number()
        .over(W.orderBy(F.desc("rank_gain"), "word"))
        .cast("int")
        .alias("rk"),
    )


@query(
    "q215_rag_chunking",
    oracle="""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS tok, len(string_split(text, ' ')) AS n
  FROM documents
),
st AS (
  SELECT doc_id, tok, n, CAST(s AS BIGINT) AS start_tok
  FROM toks, unnest(generate_series(0, GREATEST(n - 1, 0), 24)) AS t(s)
  WHERE s = 0 OR s < n
),
ch AS (
  SELECT doc_id, n, start_tok,
         start_tok // 24 AS chunk_id,
         list_slice(tok, CAST(start_tok + 1 AS INT), CAST(start_tok + 32 AS INT)) AS chunk
  FROM st
)
SELECT doc_id, chunk_id, start_tok,
       CAST(len(chunk) AS INT) AS n_chunk_tokens,
       md5(array_to_string(chunk, ' ')) AS fingerprint,
       chunk[1] AS first_tok,
       chunk[len(chunk)] AS last_tok
FROM ch
""",
)
def q215_rag_chunking(spark, sf_dir):
    """RAG-PREP CHUNKING LEDGER: split every document into
    32-token sliding windows with stride 24 (25% overlap) — the
    retrieval-corpus preparation step every RAG/embedding pipeline
    runs before vectorizing — emitting per-chunk token extent and an
    md5 content fingerprint (the dedup/join key of the chunk store).
    Contrast with q135's content-defined chunking: CDC re-synchronizes
    after edits for dedup, while FIXED-STRIDE windows guarantee
    bounded chunk size and overlap for retrieval context.

    Scale shape: pure per-row array algebra — split once, explode the
    stride grid, slice — zero shuffle, zero UDF; 100 TB of documents
    chunk at scan speed and the fingerprint gives the downstream
    exact-dedup groupBy its hash key for free."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.split("text", " ").alias("tok"),
        F.size(F.split("text", " ")).alias("n"),
    )
    st = toks.select(
        "doc_id",
        "tok",
        "n",
        F.explode(
            F.sequence(F.lit(0), F.greatest(F.col("n") - 1, F.lit(0)), F.lit(24))
        ).alias("start_tok0"),
    ).select(
        "doc_id", "tok", "n", F.col("start_tok0").cast("bigint").alias("start_tok")
    ).where((F.col("start_tok") == 0) | (F.col("start_tok") < F.col("n")))
    ch = st.select(
        "doc_id",
        "n",
        "start_tok",
        F.expr("start_tok DIV 24").alias("chunk_id"),
        F.expr("slice(tok, CAST(start_tok + 1 AS INT), 32)").alias("chunk"),
    )
    return ch.select(
        "doc_id",
        "chunk_id",
        "start_tok",
        F.size("chunk").alias("n_chunk_tokens"),
        F.md5(F.array_join("chunk", " ")).alias("fingerprint"),
        F.element_at("chunk", 1).alias("first_tok"),
        F.element_at("chunk", F.size("chunk")).alias("last_tok"),
    )


@query(
    "q221_ir_eval",
    oracle="""
WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
dfreq AS (SELECT w, COUNT(DISTINCT doc_id) AS df FROM toks WHERE w <> '' GROUP BY w),
qterms AS (
  SELECT w AS term, df FROM dfreq
  WHERE df >= 5
  ORDER BY df ASC, w LIMIT 10
),
dl AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS INT) AS dl FROM documents),
stats AS (
  SELECT COUNT(*) AS n_docs,
         CAST(SUM(CAST(len(string_split(text, ' ')) AS DECIMAL(18,2))) AS DOUBLE)
           / COUNT(*) AS avgdl
  FROM documents
),
tf AS (
  SELECT t.doc_id, q.term, COUNT(*) AS tf
  FROM toks t JOIN qterms q ON t.w = q.term
  GROUP BY t.doc_id, q.term
),
scored AS (
  SELECT tf.term, tf.doc_id, tf.tf,
         CAST(ln((n_docs - q.df + 0.5) / (q.df + 0.5) + 1)
              * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl.dl / avgdl))
              AS DECIMAL(18,12)) AS s
  FROM tf JOIN qterms q USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
),
ranked AS (
  SELECT term, doc_id, tf >= 2 AS rel,
         CAST(ROW_NUMBER() OVER (PARTITION BY term ORDER BY s DESC, doc_id) AS INT) AS rank
  FROM scored
),
per_q AS (
  SELECT term,
         COUNT(*) AS n_candidates,
         COUNT(*) FILTER (WHERE rel) AS n_relevant,
         COALESCE(MIN(rank) FILTER (WHERE rel AND rank <= 10), 0) AS first_rel,
         CAST(SUM(CASE WHEN rel AND rank <= 10
                  THEN CAST(ROUND(1.0 / log2(rank + 1.0), 12) AS DECIMAL(20,12))
                  ELSE CAST(0 AS DECIMAL(20,12)) END) AS DOUBLE) AS dcg
  FROM ranked GROUP BY term
),
ideal AS (
  SELECT term,
         CAST((SELECT SUM(CAST(ROUND(1.0 / log2(r + 1.0), 12) AS DECIMAL(20,12)))
               FROM unnest(generate_series(1, CAST(LEAST(n_relevant, 10) AS INT))) AS t(r))
           AS DOUBLE) AS idcg
  FROM per_q
)
SELECT p.term,
       CAST(p.n_candidates AS BIGINT) AS n_candidates,
       CAST(p.n_relevant AS BIGINT) AS n_relevant,
       ROUND(CASE WHEN p.first_rel > 0 THEN 1.0 / p.first_rel ELSE 0.0 END, 6)
         AS mrr_at_10,
       ROUND(CASE WHEN i.idcg > 0 THEN p.dcg / i.idcg ELSE 0.0 END, 6)
         AS ndcg_at_10
FROM per_q p JOIN ideal i USING (term)
""",
)
def q221_ir_eval(spark, sf_dir):
    """IR RETRIEVAL-QUALITY HARNESS — MRR@10 and nDCG@10 of BM25
    ranking (q116's scoring machinery) over a deterministic query set:
    the evaluation loop a retrieval/RAG deployment runs before
    trusting its ranker, sibling of q217's ANN recall harness. Query
    terms are the 10 rarest terms with df >= 5 (the selective ones); graded
    relevance is binary (term frequency >= 2 in the doc).

    Scale shape: the corpus is scanned once into an inverted postings
    slice filtered to the 10 query terms (pushed-down semi-join — the
    99.99% of postings for other terms never shuffle); df/avgdl ride
    a broadcast; ranking windows are per-term candidate-set-sized; the
    metric join is (queries x k). Determinism: BM25 scores snap to
    DECIMAL(18,12) before ranking (q116's rule), DCG terms snap to
    DECIMAL(20,12) before the order-free exact sum, ranks tie-break on
    doc_id — partition-invariant end to end."""
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents").transform(managed_persist)
    toks = docs.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
    dfreq = (
        toks.where(F.col("w") != "")
        .groupBy("w")
        .agg(F.countDistinct("doc_id").alias("df"))
    )
    qterms = (
        dfreq.where(F.col("df") >= 5)
        .orderBy(F.col("df").asc(), "w")
        .limit(10)
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
        toks.join(F.broadcast(qterms), toks.w == qterms.term)
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    scored = (
        tf.join(F.broadcast(qterms), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "term",
            "doc_id",
            "tf",
            (
                F.log(
                    (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1
                )
                * (F.col("tf") * 2.2)
                / (
                    F.col("tf")
                    + 1.2 * (0.25 + 0.75 * F.col("dl") / F.col("avgdl"))
                )
            ).cast("decimal(18,12)").alias("s"),
        )
    )
    ranked = scored.select(
        "term",
        "doc_id",
        (F.col("tf") >= 2).alias("rel"),
        F.row_number()
        .over(W.partitionBy("term").orderBy(F.col("s").desc(), "doc_id"))
        .alias("rank"),
    )
    dcg_term = F.when(
        F.col("rel") & (F.col("rank") <= 10),
        F.round(1.0 / F.log2(F.col("rank") + 1.0), 12).cast("decimal(20,12)"),
    ).otherwise(F.lit(0).cast("decimal(20,12)"))
    per_q = ranked.groupBy("term").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_candidates"),
        F.sum(F.when(F.col("rel"), 1).otherwise(0)).cast("bigint").alias("n_relevant"),
        F.coalesce(
            F.min(F.when(F.col("rel") & (F.col("rank") <= 10), F.col("rank"))),
            F.lit(0),
        ).alias("first_rel"),
        F.sum(dcg_term).cast("double").alias("dcg"),
    )
    ideal = per_q.select(
        "term",
        F.expr(
            """CAST(aggregate(
                 sequence(1, CAST(LEAST(n_relevant, 10) AS INT)),
                 CAST(0 AS DECIMAL(20,12)),
                 (acc, r) -> CAST(acc + CAST(ROUND(1.0 / log2(r + 1.0), 12) AS DECIMAL(20,12)) AS DECIMAL(20,12)),
                 acc -> acc) AS DOUBLE)"""
        ).alias("idcg"),
    )
    return per_q.join(ideal, "term").select(
        "term",
        "n_candidates",
        "n_relevant",
        F.round(
            F.when(F.col("first_rel") > 0, 1.0 / F.col("first_rel")).otherwise(0.0), 6
        ).alias("mrr_at_10"),
        F.round(
            F.when(F.col("idcg") > 0, F.col("dcg") / F.col("idcg")).otherwise(0.0), 6
        ).alias("ndcg_at_10"),
    )


@query(
    "q224_kneser_ney_lm",
    oracle="""
WITH tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
bg AS (
  SELECT doc_id, unnest([w[i] || ' ' || w[i+1]
                         for i in generate_series(1, len(w) - 1)]) AS b
  FROM tok WHERE len(w) >= 2
),
c2 AS (SELECT b, COUNT(*) AS c FROM bg GROUP BY b),
ch AS (SELECT string_split(b, ' ')[1] AS w1,
              CAST(SUM(c) AS BIGINT) AS h,
              CAST(COUNT(*) AS BIGINT) AS t1
       FROM c2 GROUP BY 1),
cont AS (SELECT string_split(b, ' ')[2] AS w2,
                CAST(COUNT(*) AS BIGINT) AS t2
         FROM c2 GROUP BY 1),
tt AS (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM c2),
scored AS (
  SELECT bg.doc_id,
         CAST(-log10(
           GREATEST(c2.c - 0.75, 0) / CAST(ch.h AS DOUBLE)
           + (0.75 * ch.t1 / CAST(ch.h AS DOUBLE))
             * (cont.t2 / CAST(tt.t AS DOUBLE))
         ) AS DECIMAL(18,12)) AS nll
  FROM bg
  JOIN c2 ON c2.b = bg.b
  JOIN ch ON ch.w1 = string_split(bg.b, ' ')[1]
  JOIN cont ON cont.w2 = string_split(bg.b, ' ')[2]
  CROSS JOIN tt
)
SELECT doc_id, CAST(COUNT(*) AS INT) AS n_bigrams,
       ROUND(CAST(SUM(nll) AS DOUBLE) / COUNT(*), 6) AS avg_nll
FROM scored GROUP BY doc_id
""",
)
def q224_kneser_ney_lm(spark, sf_dir):
    """KNESER-NEY bigram LM scoring — the smoothing KenLM/CCNet
    actually ship (q182's interpolated MLE upgraded to the
    absolute-discount form): P(w2|w1) = max(c(w1 w2) - D, 0)/c(w1 .)
    + D.t1(w1)/c(w1 .) * Pcont(w2), with D = 0.75 and the CONTINUATION
    probability Pcont(w2) = |{w1 : c(w1 w2) > 0}| / |bigram types| —
    the 'how many contexts does w2 complete' correction that separates
    genuinely productive words from words frequent only inside one
    collocation (the 'San Francisco' effect).

    Same scale shape as q97/q182: all model tables (bigram counts,
    per-history totals+types, continuation types) are
    vocabulary-bounded broadcasts; the corpus token stream is scanned
    once, bigrams build per-row from a staged split (q78 rule), and
    per-bigram nll doubles snap to DECIMAL so the per-doc mean is
    partition-order-independent."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.split("text", " ").alias("w"))
    w = F.col("w")
    bg = (
        tok.where(F.size(w) >= 2)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.size(w) - 2),
                    lambda i: F.array_join(F.slice(w, i + 1, 2), " "),
                )
            ).alias("b"),
        )
        .transform(managed_persist)
    )
    c2 = bg.groupBy("b").agg(cnt("c")).transform(managed_persist)
    ch = (
        c2.select(F.split("b", " ")[0].alias("w1"), "c")
        .groupBy("w1")
        .agg(
            F.sum("c").cast("bigint").alias("h"),
            F.count(F.lit(1)).cast("bigint").alias("t1"),
        )
    )
    cont = (
        c2.select(F.split("b", " ")[1].alias("w2"))
        .groupBy("w2")
        .agg(F.count(F.lit(1)).cast("bigint").alias("t2"))
    )
    tt = c2.agg(F.count(F.lit(1)).cast("bigint").alias("t"))
    scored = (
        bg.withColumn("w1", F.split("b", " ")[0])
        .withColumn("w2", F.split("b", " ")[1])
        .join(F.broadcast(c2), "b")
        .join(F.broadcast(ch), "w1")
        .join(F.broadcast(cont), "w2")
        .crossJoin(F.broadcast(tt))
        .select(
            "doc_id",
            (
                -F.log10(
                    F.greatest(F.col("c") - 0.75, F.lit(0.0)) / F.col("h").cast("double")
                    + (0.75 * F.col("t1") / F.col("h").cast("double"))
                    * (F.col("t2") / F.col("t").cast("double"))
                )
            )
            .cast("decimal(18,12)")
            .alias("nll"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_bigrams"),
        F.round(F.sum("nll").cast("double") / F.count(F.lit(1)), 6).alias("avg_nll"),
    )


@query(
    "q243_ctfidf_topics",
    oracle="""
WITH toks AS (
  SELECT source, unnest(string_split(text, ' ')) AS w FROM documents
),
t AS (SELECT source, w FROM toks WHERE w <> ''),
tf AS (SELECT source, w, CAST(COUNT(*) AS BIGINT) AS tf FROM t GROUP BY source, w),
cls AS (SELECT source, CAST(SUM(tf) AS BIGINT) AS class_tokens FROM tf GROUP BY source),
df AS (SELECT w, CAST(SUM(tf) AS BIGINT) AS corpus_tf FROM tf GROUP BY w),
avg_sz AS (
  SELECT CAST(SUM(class_tokens) AS DOUBLE) / COUNT(*) AS a FROM cls
),
scored AS (
  SELECT tf.source, tf.w, tf.tf,
         CAST((tf.tf / CAST(cls.class_tokens AS DOUBLE))
              * ln(1 + avg_sz.a / df.corpus_tf) AS DECIMAL(18,12)) AS ctfidf
  FROM tf JOIN cls USING (source) JOIN df USING (w) CROSS JOIN avg_sz
)
SELECT source, w AS term, tf,
       CAST(ctfidf AS DOUBLE) AS ctfidf,
       rank
FROM (
  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY source
             ORDER BY ctfidf DESC, w) AS INT) AS rank
  FROM scored
) WHERE rank <= 10
""",
)
def q243_ctfidf_topics(spark, sf_dir):
    """CLASS-BASED TF-IDF topic terms (the BERTopic c-TF-IDF formula —
    the step that turns clusters/sources into human-readable topic
    labels after the q151/q108 grouping machinery has formed them):
    per source the top-10 terms by (term share within the class) x
    ln(1 + avg class size / corpus term count) — frequent-in-class,
    rare-overall wins.

    Scale shape: one token scan -> class-term counts (map-side
    combinable); class sizes and corpus counts are vocabulary- and
    class-bounded broadcasts; ranking windows partition per class.
    Determinism: scores snap to DECIMAL(18,12) before ranking
    (the q116 rule), full tie-breaks."""
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "source", F.explode(F.split("text", " ")).alias("w")
    ).where(F.col("w") != "")
    tf = t.groupBy("source", "w").agg(
        F.count(F.lit(1)).cast("bigint").alias("tf")
    ).transform(managed_persist)
    cls = tf.groupBy("source").agg(
        F.sum("tf").cast("bigint").alias("class_tokens")
    )
    dfw = tf.groupBy("w").agg(F.sum("tf").cast("bigint").alias("corpus_tf"))
    avg_sz = cls.agg(
        (F.sum("class_tokens").cast("double") / F.count(F.lit(1))).alias("a")
    )
    scored = (
        tf.join(F.broadcast(cls), "source")
        .join(F.broadcast(dfw), "w")
        .crossJoin(F.broadcast(avg_sz))
        .select(
            "source",
            "w",
            "tf",
            (
                (F.col("tf") / F.col("class_tokens").cast("double"))
                * F.log(1 + F.col("a") / F.col("corpus_tf"))
            ).cast("decimal(18,12)").alias("ctfidf"),
        )
    )
    return (
        scored.withColumn(
            "rank",
            F.row_number()
            .over(W.partitionBy("source").orderBy(F.col("ctfidf").desc(), "w"))
            .cast("int"),
        )
        .where(F.col("rank") <= 10)
        .select(
            "source",
            F.col("w").alias("term"),
            "tf",
            F.col("ctfidf").cast("double").alias("ctfidf"),
            "rank",
        )
    )


# Poisson(1) inverse-CDF thresholds (cumulative pmf), exact literals
_POIS_T = "0.36787944117144233, 0.7357588823428847, 0.919698602928606, 0.9810118431238462, 0.9963401531726563"


@query(
    "q246_poisson_bootstrap",
    oracle=f"""
WITH d AS (SELECT doc_id, source, n_chars FROM documents),
b AS (SELECT unnest(generate_series(0, 39)) AS rep),
u AS (
  SELECT d.source, d.n_chars, b.rep,
         (list_reduce(list_transform(
            string_split(substr(md5(CAST(d.doc_id AS VARCHAR) || ':' || CAST(b.rep AS VARCHAR)), 1, 8), ''),
            c -> CAST(CASE WHEN ascii(c) >= 97 THEN ascii(c) - 87
                           ELSE ascii(c) - 48 END AS BIGINT)),
            (a, x) -> a * 16 + x) % 2147483647) / 2147483647.0 AS uu
  FROM d CROSS JOIN b
),
w AS (
  SELECT source, rep, n_chars,
         CASE WHEN uu < {_POIS_T.split(', ')[0]} THEN 0
              WHEN uu < {_POIS_T.split(', ')[1]} THEN 1
              WHEN uu < {_POIS_T.split(', ')[2]} THEN 2
              WHEN uu < {_POIS_T.split(', ')[3]} THEN 3
              WHEN uu < {_POIS_T.split(', ')[4]} THEN 4
              ELSE 5 END AS k
  FROM u
),
reps AS (
  SELECT source, rep,
         CAST(SUM(CAST(k AS BIGINT) * n_chars) AS BIGINT) AS sx,
         CAST(SUM(k) AS BIGINT) AS sw
  FROM w GROUP BY source, rep
  HAVING SUM(k) > 0
),
means AS (
  SELECT source, rep, sx / CAST(sw AS DOUBLE) AS m,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY sx / CAST(sw AS DOUBLE), rep) AS rk,
         COUNT(*) OVER (PARTITION BY source) AS nb
  FROM reps
),
ci AS (
  SELECT source,
         MAX(CASE WHEN rk = GREATEST(CAST(CEIL(0.025 * nb) AS BIGINT), 1) THEN m END) AS ci_lo,
         MAX(CASE WHEN rk = CAST(FLOOR(0.975 * nb) AS BIGINT) THEN m END) AS ci_hi
  FROM means GROUP BY source
),
pt AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(CAST(n_chars AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS point_mean
  FROM d GROUP BY source
)
SELECT p.source, p.n_docs,
       ROUND(p.point_mean, 6) AS point_mean,
       ROUND(c.ci_lo, 6) AS ci_lo,
       ROUND(c.ci_hi, 6) AS ci_hi,
       ROUND(c.ci_hi - c.ci_lo, 6) AS ci_width
FROM pt p JOIN ci c USING (source)
""",
)
def q246_poisson_bootstrap(spark, sf_dir):
    """POISSON BOOTSTRAP confidence intervals (the distributed
    bootstrap of Chamandy et al. / Google — resampling WITHOUT
    shuffling: each row draws an independent Poisson(1) multiplicity
    per replicate, so 40 bootstrap replicates of a per-source mean
    cost one scan with a 40-way rowwise explode, never 40 shuffled
    resamples): per source the point mean of n_chars plus the
    2.5/97.5-percentile CI over replicate means.

    Determinism: the Poisson draw is an inverse-CDF lookup on the
    portable md5 hash of (doc, replicate) against exact cumulative-pmf
    literals — identical multiplicities on any engine/partitioning;
    replicate means are bigint/bigint IEEE divisions; CI bounds are
    rank-picked data values. Scale shape: (source, replicate) partial
    aggregates are map-side combinable; the percentile windows touch
    the (sources x 40)-row replicate table only."""
    from pyspark.sql import Window as W

    from variantcalling_spark.operators.dedup import (
        MERSENNE31,
        portable_string_hash,
    )

    t = [float(x) for x in _POIS_T.split(", ")]
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    b = spark.range(0, 40).select(F.col("id").alias("rep"))
    u = docs.crossJoin(F.broadcast(b)).select(
        "source",
        "n_chars",
        "rep",
        (
            portable_string_hash(
                F.concat_ws(
                    ":", F.col("doc_id").cast("string"), F.col("rep").cast("string")
                )
            )
            / F.lit(float(MERSENNE31))
        ).alias("uu"),
    )
    k = (
        F.when(F.col("uu") < t[0], 0)
        .when(F.col("uu") < t[1], 1)
        .when(F.col("uu") < t[2], 2)
        .when(F.col("uu") < t[3], 3)
        .when(F.col("uu") < t[4], 4)
        .otherwise(5)
    )
    reps = (
        u.select("source", "rep", "n_chars", k.alias("k"))
        .groupBy("source", "rep")
        .agg(
            F.sum(F.col("k").cast("bigint") * F.col("n_chars"))
            .cast("bigint")
            .alias("sx"),
            F.sum("k").cast("bigint").alias("sw"),
        )
        .where(F.col("sw") > 0)
    )
    means = reps.select(
        "source",
        "rep",
        (F.col("sx") / F.col("sw").cast("double")).alias("m"),
    ).select(
        "source",
        "m",
        F.row_number()
        .over(W.partitionBy("source").orderBy("m", "rep"))
        .alias("rk"),
        F.count(F.lit(1)).over(W.partitionBy("source")).alias("nb"),
    )
    ci = means.groupBy("source").agg(
        F.max(
            F.when(
                F.col("rk")
                == F.greatest(F.ceil(0.025 * F.col("nb")).cast("bigint"), F.lit(1)),
                F.col("m"),
            )
        ).alias("ci_lo"),
        F.max(
            F.when(
                F.col("rk") == F.floor(0.975 * F.col("nb")).cast("bigint"), F.col("m")
            )
        ).alias("ci_hi"),
    )
    pt = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        (
            F.sum(F.col("n_chars").cast("decimal(18,2)")).cast("double")
            / F.count(F.lit(1))
        ).alias("point_mean"),
    )
    return pt.join(ci, "source").select(
        "source",
        "n_docs",
        F.round("point_mean", 6).alias("point_mean"),
        F.round("ci_lo", 6).alias("ci_lo"),
        F.round("ci_hi", 6).alias("ci_hi"),
        F.round(F.col("ci_hi") - F.col("ci_lo"), 6).alias("ci_width"),
    )


@query(
    "q248_good_turing",
    oracle="""
WITH t AS (
  SELECT unnest(string_split(text, ' ')) AS w FROM documents
),
tt AS (SELECT w FROM t WHERE w <> ''),
wc AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS r FROM tt GROUP BY w),
nr AS (SELECT r, CAST(COUNT(*) AS BIGINT) AS n_r FROM wc GROUP BY r),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_tokens FROM tt),
n1 AS (SELECT COALESCE(MAX(n_r), 0) AS v FROM nr WHERE r = 1)
SELECT a.r, a.n_r,
       CASE WHEN b.n_r IS NOT NULL
            THEN ROUND((a.r + 1) * b.n_r / CAST(a.n_r AS DOUBLE), 6) END
         AS r_star,
       ROUND(n1.v / CAST(tot.n_tokens AS DOUBLE), 8) AS p0_unseen_mass
FROM nr a
LEFT JOIN nr b ON b.r = a.r + 1
CROSS JOIN tot CROSS JOIN n1
""",
)
def q248_good_turing(spark, sf_dir):
    """GOOD-TURING frequency smoothing table (the count-of-counts
    estimator under Katz backoff and the classic answer to 'how much
    probability mass do UNSEEN words deserve?' — completes the LM
    smoothing family q97/q182/q224): per observed count r the species
    count N_r and the adjusted count r* = (r+1) N_{r+1}/N_r, plus the
    Good-Turing unseen mass N_1/N that a held-out vocabulary will
    claim.

    Scale shape: word counts (one shuffle) -> count-of-counts (a
    count-DOMAIN-sized aggregate — hundreds of rows for any corpus)
    -> a self-join on r+1 over that tiny table (the full count domain is
    emitted — it is count-of-counts-sized, i.e. tiny, by construction).
    The heavy table never joins anything."""
    docs = load_table(spark, sf_dir, "documents")
    tt = docs.select(F.explode(F.split("text", " ")).alias("w")).where(
        F.col("w") != ""
    )
    wc = tt.groupBy("w").agg(F.count(F.lit(1)).cast("bigint").alias("r"))
    nr = wc.groupBy("r").agg(F.count(F.lit(1)).cast("bigint").alias("n_r")).transform(
        managed_persist
    )
    tot = tt.agg(F.count(F.lit(1)).cast("bigint").alias("n_tokens"))
    n1 = nr.where(F.col("r") == 1).agg(F.coalesce(F.max("n_r"), F.lit(0)).alias("v"))
    b = nr.select((F.col("r") - 1).alias("r"), F.col("n_r").alias("n_r1"))
    return (
        nr.join(b, "r", "left")
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(n1))
        .select(
            "r",
            "n_r",
            F.when(
                F.col("n_r1").isNotNull(),
                F.round((F.col("r") + 1) * F.col("n_r1") / F.col("n_r").cast("double"), 6),
            ).alias("r_star"),
            F.round(F.col("v") / F.col("n_tokens").cast("double"), 8).alias(
                "p0_unseen_mass"
            ),
        )
    )


@query(
    "q249_heaps_law",
    oracle="""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
),
t AS (SELECT doc_id, w FROM toks WHERE w <> ''),
first_seen AS (SELECT w, MIN(doc_id) AS fd FROM t GROUP BY w),
cp AS (SELECT unnest([32, 64, 128, 256, 500]) AS k),
stats AS (
  SELECT cp.k,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM t WHERE t.doc_id < cp.k) AS n_tokens,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM first_seen f WHERE f.fd < cp.k) AS vocab
  FROM cp
),
pts AS (
  SELECT k, n_tokens, vocab,
         CAST(ROUND(ln(n_tokens), 10) AS DECIMAL(20,10)) AS x,
         CAST(ROUND(ln(vocab), 10) AS DECIMAL(20,10)) AS y
  FROM stats WHERE n_tokens > 0 AND vocab > 0
),
ols AS (
  SELECT COUNT(*) AS np,
         CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
         CAST(SUM(CAST(x * x AS DECIMAL(30,15))) AS DOUBLE) AS sxx,
         CAST(SUM(CAST(x * y AS DECIMAL(30,15))) AS DOUBLE) AS sxy
  FROM pts
)
SELECT p.k, p.n_tokens, p.vocab,
       ROUND((o.np * o.sxy - o.sx * o.sy) / (o.np * o.sxx - o.sx * o.sx), 6)
         AS heaps_beta,
       ROUND(exp((o.sy - (o.np * o.sxy - o.sx * o.sy) / (o.np * o.sxx - o.sx * o.sx) * o.sx) / o.np), 4)
         AS heaps_k
FROM pts p CROSS JOIN ols o
""",
)
def q249_heaps_law(spark, sf_dir):
    """HEAPS' LAW FIT — vocabulary growth V = K * N^beta over corpus
    prefixes (the planning number for tokenizer-vocab sizing and the
    q227-HLL question asked as a growth law; pairs with q177's Zipf
    exponent, its analytic sibling): vocabulary size at doc-count
    checkpoints via FIRST-SEEN doc per word (one aggregate — no
    order-dependent running distinct), then a log-log OLS for
    (K, beta).

    Determinism: checkpoint counts are exact integers; ln values snap
    to DECIMAL before the OLS sufficient-statistic sums (the q165
    algebra); slope/intercept are IEEE expressions over identical
    sums. Scale shape: first-seen is one min-aggregate; each
    checkpoint is a filtered count over the tiny first-seen/vocab
    tables, not a corpus rescan."""
    docs = load_table(spark, sf_dir, "documents")
    t = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
        .where(F.col("w") != "")
        .transform(managed_persist)
    )
    first_seen = t.groupBy("w").agg(F.min("doc_id").alias("fd")).transform(
        managed_persist
    )
    cp = spark.createDataFrame([(32,), (64,), (128,), (256,), (500,)], ["k"]).select(
        F.col("k").cast("int").alias("k")
    )
    tok_k = (
        t.crossJoin(F.broadcast(cp))
        .where(F.col("doc_id") < F.col("k"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_tokens"))
    )
    voc_k = (
        first_seen.crossJoin(F.broadcast(cp))
        .where(F.col("fd") < F.col("k"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).cast("bigint").alias("vocab"))
    )
    pts = (
        tok_k.join(voc_k, "k")
        .where((F.col("n_tokens") > 0) & (F.col("vocab") > 0))
        .select(
            "k",
            "n_tokens",
            "vocab",
            F.round(F.log("n_tokens"), 10).cast("decimal(20,10)").alias("x"),
            F.round(F.log("vocab"), 10).cast("decimal(20,10)").alias("y"),
        )
        .transform(managed_persist)
    )
    ols = pts.agg(
        F.count(F.lit(1)).alias("np"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(30,15)"))
        .cast("double")
        .alias("sxx"),
        F.sum((F.col("x") * F.col("y")).cast("decimal(30,15)"))
        .cast("double")
        .alias("sxy"),
    )
    beta = (F.col("np") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("np") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return pts.crossJoin(F.broadcast(ols)).select(
        "k",
        "n_tokens",
        "vocab",
        F.round(beta, 6).alias("heaps_beta"),
        F.round(F.exp((F.col("sy") - beta * F.col("sx")) / F.col("np")), 4).alias(
            "heaps_k"
        ),
    )


_GOPHER_STOPS = ("the", "a", "of", "to", "and")


@query(
    "q266_gopher_quality_flags",
    oracle=f"""
WITH ws AS (
  SELECT doc_id, source, string_split(text, ' ') AS w FROM documents
),
feats AS (
  SELECT doc_id, source,
         len(w) AS n_words,
         list_sum(list_transform(w, x -> length(x))) AS n_chars_words,
         len(list_intersect(list_distinct(w),
             ['{"','".join(_GOPHER_STOPS)}'])) AS n_stops,
         len(list_filter(w, x -> length(x) <= 2)) AS n_short
  FROM ws
),
flags AS (
  SELECT source,
         CASE WHEN n_words BETWEEN 30 AND 10000 THEN 1 ELSE 0 END AS f_wordcount,
         CASE WHEN n_words > 0
                   AND CAST(n_chars_words AS DOUBLE) / n_words >= 3
                   AND CAST(n_chars_words AS DOUBLE) / n_words <= 10
              THEN 1 ELSE 0 END AS f_meanlen,
         CASE WHEN n_stops >= 2 THEN 1 ELSE 0 END AS f_stop,
         CASE WHEN CAST(n_short AS DOUBLE) / n_words <= 0.1 THEN 1 ELSE 0 END AS f_short
  FROM feats
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(f_wordcount) AS BIGINT) AS n_pass_wordcount,
       CAST(SUM(f_meanlen) AS BIGINT) AS n_pass_meanlen,
       CAST(SUM(f_stop) AS BIGINT) AS n_pass_stop,
       CAST(SUM(f_short) AS BIGINT) AS n_pass_shortratio,
       CAST(SUM(f_wordcount * f_meanlen * f_stop * f_short) AS BIGINT) AS n_pass_all
FROM flags GROUP BY source
""",
)
def q266_gopher_quality_flags(spark, sf_dir):
    """GOPHER-RULE QUALITY FLAGS per source (Rae et al. 2021 §A1.1, the
    rule-based pre-filter every web-scale corpus runs before model-based
    scoring — the named-rule-set complement of the composite quality
    score q61 and the curation funnel q99): word-count bounds, mean-
    word-length band [3,10], minimum-stopword evidence (>= 2 distinct of
    a 5-word set), and short-word-ratio cap, reported as a per-source
    pass matrix.

    Scale discipline: the split projects ONCE into a column and every
    feature is a higher-order function over that array (the documented
    q78 rule: no split-in-lambda re-evaluation); one map-side pass, one
    20-group aggregate. Flags are exact ints; the two ratios compare
    against DECIMAL-exact thresholds only inside a CASE, so no float
    ever aggregates."""
    docs = load_table(spark, sf_dir, "documents")
    ws = docs.select("source", F.split("text", " ").alias("w"))
    feats = ws.select(
        "source",
        F.size("w").alias("n_words"),
        F.aggregate(
            F.transform("w", lambda x: F.length(x)), F.lit(0), lambda a, x: a + x
        ).alias("n_chars_words"),
        F.size(
            F.array_intersect(
                F.array_distinct("w"),
                F.array(*[F.lit(s) for s in _GOPHER_STOPS]),
            )
        ).alias("n_stops"),
        F.size(F.filter("w", lambda x: F.length(x) <= 2)).alias("n_short"),
    )
    mean_len = F.col("n_chars_words").cast("double") / F.col("n_words")
    flags = feats.select(
        "source",
        F.when(F.col("n_words").between(30, 10000), 1).otherwise(0).alias("f_wordcount"),
        F.when(
            (F.col("n_words") > 0) & (mean_len >= 3) & (mean_len <= 10), 1
        ).otherwise(0).alias("f_meanlen"),
        F.when(F.col("n_stops") >= 2, 1).otherwise(0).alias("f_stop"),
        F.when(
            F.col("n_short").cast("double") / F.col("n_words") <= 0.1, 1
        ).otherwise(0).alias("f_short"),
    )
    return flags.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("f_wordcount").cast("bigint").alias("n_pass_wordcount"),
        F.sum("f_meanlen").cast("bigint").alias("n_pass_meanlen"),
        F.sum("f_stop").cast("bigint").alias("n_pass_stop"),
        F.sum("f_short").cast("bigint").alias("n_pass_shortratio"),
        F.sum(
            F.col("f_wordcount") * F.col("f_meanlen") * F.col("f_stop") * F.col("f_short")
        ).cast("bigint").alias("n_pass_all"),
    )


@query(
    "q280_dup_ngram_fraction",
    oracle="""
WITH ws AS (
  SELECT doc_id, source, string_split(text, ' ') AS w FROM documents
),
tri AS (
  SELECT doc_id, source,
         [w[i] || ' ' || w[i + 1] || ' ' || w[i + 2]
          for i in generate_series(1, len(w) - 2)] AS t
  FROM ws WHERE len(w) >= 3
),
per_doc AS (
  SELECT doc_id, source,
         len(t) AS n_tri,
         len(list_distinct(t)) AS n_distinct,
         ROUND(CAST(len(t) - len(list_distinct(t)) AS DOUBLE) / len(t), 8) AS frac_dup
  FROM tri
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       ROUND(CAST(SUM(CAST(frac_dup AS DECIMAL(20,8))) AS DOUBLE) / COUNT(*), 6)
         AS mean_dup_fraction,
       CAST(SUM(CASE WHEN frac_dup > 0.2 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_over_threshold
FROM per_doc GROUP BY source
""",
)
def q280_dup_ngram_fraction(spark, sf_dir):
    """DUPLICATE-TRIGRAM FRACTION per document (the Gopher §A1.1
    repetition rule family: 'fraction of duplicate n-grams' — the
    WITHIN-document repetition detector, complementing the cross-corpus
    span dedup q114 and the top-word repetition ratio q78): per doc,
    1 - distinct/total over word trigrams; per source, the mean and
    the count of docs over the 0.2 removal threshold.

    Scale discipline: entirely map-side per document — the trigram
    array is a transform over the materialized split column (q78
    rule), the dup fraction a size/array_distinct expression; only the
    20-group summary shuffles. Per-doc fractions snap to 8 digits and
    sum in DECIMAL."""
    docs = load_table(spark, sf_dir, "documents")
    ws = docs.select("source", F.split("text", " ").alias("w")).where(
        F.size("w") >= 3
    )
    tri = ws.select(
        "source",
        F.transform(
            F.sequence(F.lit(1), F.size("w") - 2),
            lambda i: F.concat_ws(
                " ",
                F.element_at(F.col("w"), i),
                F.element_at(F.col("w"), i + 1),
                F.element_at(F.col("w"), i + 2),
            ),
        ).alias("t"),
    )
    per_doc = tri.select(
        "source",
        F.round(
            (F.size("t") - F.size(F.array_distinct("t"))).cast("double")
            / F.size("t"),
            8,
        ).alias("frac_dup"),
    )
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.round(
            F.sum(F.col("frac_dup").cast("decimal(20,8)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("mean_dup_fraction"),
        F.sum(F.when(F.col("frac_dup") > 0.2, 1).otherwise(0))
        .cast("bigint")
        .alias("n_over_threshold"),
    )


@query(
    "q281_inverted_index",
    oracle="""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
),
cf_t AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS cf FROM toks GROUP BY term
),
pairs AS (
  SELECT DISTINCT term, doc_id FROM toks
),
postings AS (
  SELECT term,
         CAST(COUNT(*) AS BIGINT) AS df,
         array_to_string(
           list_transform(
             list_slice(list_sort(list(doc_id)), 1, 8),
             x -> CAST(x AS VARCHAR)), ',') AS head_postings
  FROM pairs GROUP BY term
)
SELECT p.term, p.df, c.cf, p.head_postings
FROM postings p JOIN cf_t c USING (term)
WHERE p.term <> ''
""",
)
def q281_inverted_index(spark, sf_dir):
    """INVERTED-INDEX CONSTRUCTION — the index-build operator under the
    BM25 scorer (q116) and IR-eval harness (q221), made explicit:
    per term, document frequency, collection frequency, and the head
    of the sorted posting list (first 8 doc ids — the structure a
    distributed index shard serializes). This is the 'build' half of
    retrieval; q116/q221 are the 'query' half.

    Scale discipline: tokenize-explode is map-side; distinct (term,
    doc) then one groupBy term — both shuffles hash on term, which is
    exactly how a distributed index is sharded; posting lists are
    BOUNDED (head-8) before any driver sees them, and sort_array over
    a collect_set touches only per-term groups. cf rides a second
    map-side-combinable count joined on the same key (no extra corpus
    pass at the storage layer: both aggregates scan once each, and a
    single-pass combined agg would shuffle occurrences — the distinct
    is what keeps the big shuffle minimal)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    ).transform(managed_persist)
    cf_t = toks.groupBy("term").agg(F.count(F.lit(1)).cast("bigint").alias("cf"))
    pairs = toks.distinct()
    postings = pairs.groupBy("term").agg(
        F.count(F.lit(1)).cast("bigint").alias("df"),
        F.concat_ws(
            ",",
            F.transform(
                F.slice(F.sort_array(F.collect_set("doc_id")), 1, 8),
                lambda x: x.cast("string"),
            ),
        ).alias("head_postings"),
    )
    return postings.join(cf_t, "term").where(F.col("term") != "").select(
        "term", "df", "cf", "head_postings"
    )


@query(
    "q282_skipgram_cooccurrence",
    oracle="""
WITH ws AS (
  SELECT string_split(text, ' ') AS w FROM documents
),
pos AS (
  SELECT w, unnest(generate_series(1, len(w))) AS i FROM ws
),
pairs AS (
  SELECT w[i] AS center,
         unnest([w[j] for j in generate_series(GREATEST(1, i - 2), LEAST(len(w), i + 2))
                 if j <> i]) AS context
  FROM pos
),
counts AS (
  SELECT center, context, CAST(COUNT(*) AS BIGINT) AS n
  FROM pairs GROUP BY center, context
),
tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nn FROM counts),
cm AS (SELECT center, CAST(SUM(n) AS BIGINT) AS n_c FROM counts GROUP BY center),
xm AS (SELECT context, CAST(SUM(n) AS BIGINT) AS n_x FROM counts GROUP BY context)
SELECT c.center, c.context, c.n,
       ROUND(GREATEST(0.0,
         ln((CAST(c.n AS DOUBLE) * t.nn) / (CAST(cm.n_c AS DOUBLE) * xm.n_x))
         - ln(5.0)), 6) AS sppmi
FROM counts c
JOIN cm ON cm.center = c.center
JOIN xm ON xm.context = c.context
CROSS JOIN tot t
WHERE c.n >= 100
""",
)
def q282_skipgram_cooccurrence(spark, sf_dir):
    """SKIP-GRAM CO-OCCURRENCE MATRIX with shifted positive PMI
    (Levy & Goldberg 2014: SGNS implicitly factorizes the
    PMI - ln(k) matrix; k=5): counts over a +-2 word window — the
    substrate of every count-based embedding (GloVe, SVD-of-PPMI) and
    the windowed generalization of the adjacent-pair PMI (q191).

    Scale discipline: context extraction is per-position array
    indexing over the materialized split column (q78 rule) — each
    token emits at most 4 pairs, so the exploded volume is 4x tokens,
    map-side; the count, the two marginals, and the scalar total are
    all map-side-combinable aggregates keyed by vocabulary terms; the
    PMI join probes vocabulary-sized tables on their keys. At corpus
    scale this is one shuffle of (center, context) partial counts —
    the canonical co-occurrence build. SPPMI is one ln over exact
    BIGINT ratios, clamped then snapped."""
    docs = load_table(spark, sf_dir, "documents")
    ws = docs.select(F.split("text", " ").alias("w"))
    pos = ws.select("w", F.explode(F.sequence(F.lit(1), F.size("w"))).alias("i"))
    pairs = pos.select(
        F.element_at(F.col("w"), F.col("i")).alias("center"),
        F.explode(
            F.transform(
                F.filter(
                    F.sequence(
                        F.greatest(F.lit(1), F.col("i") - 2),
                        F.least(F.size("w"), F.col("i") + 2),
                    ),
                    lambda j: j != F.col("i"),
                ),
                lambda j: F.element_at(F.col("w"), j),
            )
        ).alias("context"),
    )
    counts = pairs.groupBy("center", "context").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    ).transform(managed_persist)
    tot = counts.agg(F.sum("n").cast("bigint").alias("nn"))
    cm = counts.groupBy("center").agg(F.sum("n").cast("bigint").alias("n_c"))
    xm = counts.groupBy("context").agg(F.sum("n").cast("bigint").alias("n_x"))
    return (
        counts.where(F.col("n") >= 100)
        .join(F.broadcast(cm), "center")
        .join(F.broadcast(xm), "context")
        .crossJoin(F.broadcast(tot))
        .select(
            "center",
            "context",
            "n",
            F.round(
                F.greatest(
                    F.lit(0.0),
                    F.log(
                        (F.col("n").cast("double") * F.col("nn"))
                        / (F.col("n_c").cast("double") * F.col("n_x"))
                    )
                    - F.log(F.lit(5.0)),
                ),
                6,
            ).alias("sppmi"),
        )
    )


@query(
    "q296_mcnemar",
    oracle="""
WITH s AS (
  SELECT lang = 'en' AS truth,
         len(list_filter(string_split(text, ' '),
             w -> w IN ('the', 'and', 'of'))) AS s_en,
         GREATEST(
           len(list_filter(string_split(text, ' '), w -> w IN ('der', 'und', 'die'))),
           len(list_filter(string_split(text, ' '), w -> w IN ('el', 'la', 'de'))),
           len(list_filter(string_split(text, ' '), w -> w IN ('le', 'et', 'les'))),
           len(list_filter(string_split(text, ' '), w -> w IN ('de5', 'le5', 'he2')))
         ) AS s_other
  FROM documents
),
preds AS (
  SELECT truth, s_en >= 2 AS pred_a, s_en > s_other AS pred_b FROM s
),
cells AS (
  SELECT CAST(SUM(CASE WHEN pred_a = truth AND pred_b = truth THEN 1 ELSE 0 END) AS BIGINT) AS n_both,
         CAST(SUM(CASE WHEN pred_a = truth AND pred_b <> truth THEN 1 ELSE 0 END) AS BIGINT) AS n_a_only,
         CAST(SUM(CASE WHEN pred_a <> truth AND pred_b = truth THEN 1 ELSE 0 END) AS BIGINT) AS n_b_only,
         CAST(SUM(CASE WHEN pred_a <> truth AND pred_b <> truth THEN 1 ELSE 0 END) AS BIGINT) AS n_neither,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM preds
)
SELECT n_both, n_a_only, n_b_only, n_neither,
       ROUND(CAST(n_both + n_a_only AS DOUBLE) / n, 6) AS acc_a,
       ROUND(CAST(n_both + n_b_only AS DOUBLE) / n, 6) AS acc_b,
       ROUND(CASE WHEN n_a_only + n_b_only = 0 THEN 0.0
                  ELSE (ABS(n_a_only - n_b_only) - 1)
                       * (ABS(n_a_only - n_b_only) - 1)
                       / CAST(n_a_only + n_b_only AS DOUBLE) END, 6)
         AS mcnemar_chi2
FROM cells
""",
)
def q296_mcnemar(spark, sf_dir):
    """McNEMAR'S PAIRED CLASSIFIER TEST (Edwards-corrected — THE test
    for "is classifier A actually better than B on the SAME examples",
    the statistically sound way to compare two quality filters before
    swapping one into the curation funnel; complements q203's kappa
    which measures agreement, not superiority): classifier A = en
    marker-count threshold, classifier B = marker argmax, ground truth
    the lang column; chi2 = (|b - c| - 1)^2 / (b + c) over the
    DISCORDANT cells only.

    Scale discipline: one corpus scan projects both predictions from a
    single split (the q78 materialization rule), reduced by one
    map-side-combinable 5-counter aggregate; the test statistic is
    arithmetic over one row. Exact integer cells; the two divisions
    snap at 6 digits."""
    docs = load_table(spark, sf_dir, "documents")
    ws = docs.select(
        (F.col("lang") == "en").alias("truth"), F.split("text", " ").alias("w")
    )

    def marker_count(*words):
        arr = F.array(*[F.lit(x) for x in words])
        return F.size(F.filter(F.col("w"), lambda t: F.array_contains(arr, t)))

    s = ws.select(
        "truth",
        marker_count("the", "and", "of").alias("s_en"),
        F.greatest(
            marker_count("der", "und", "die"),
            marker_count("el", "la", "de"),
            marker_count("le", "et", "les"),
            marker_count("de5", "le5", "he2"),
        ).alias("s_other"),
    )
    preds = s.select(
        "truth",
        (F.col("s_en") >= 2).alias("pred_a"),
        (F.col("s_en") > F.col("s_other")).alias("pred_b"),
    )
    t, pa, pb = F.col("truth"), F.col("pred_a"), F.col("pred_b")
    cells = preds.agg(
        F.sum(F.when((pa == t) & (pb == t), 1).otherwise(0)).cast("bigint").alias("n_both"),
        F.sum(F.when((pa == t) & (pb != t), 1).otherwise(0)).cast("bigint").alias("n_a_only"),
        F.sum(F.when((pa != t) & (pb == t), 1).otherwise(0)).cast("bigint").alias("n_b_only"),
        F.sum(F.when((pa != t) & (pb != t), 1).otherwise(0)).cast("bigint").alias("n_neither"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    b, c = F.col("n_a_only"), F.col("n_b_only")
    return cells.select(
        "n_both",
        "n_a_only",
        "n_b_only",
        "n_neither",
        F.round((F.col("n_both") + b).cast("double") / F.col("n"), 6).alias("acc_a"),
        F.round((F.col("n_both") + c).cast("double") / F.col("n"), 6).alias("acc_b"),
        F.round(
            F.when(b + c == 0, F.lit(0.0)).otherwise(
                (F.abs(b - c) - 1) * (F.abs(b - c) - 1) / (b + c).cast("double")
            ),
            6,
        ).alias("mcnemar_chi2"),
    )


@query(
    "q299_jsd_source_drift",
    oracle="""
WITH tok AS MATERIALIZED (
  SELECT source, unnest(string_split(text, ' ')) AS w FROM documents
),
src_counts AS MATERIALIZED (
  SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c FROM tok GROUP BY source, w
),
src_tot AS MATERIALIZED (
  SELECT source, CAST(SUM(c) AS BIGINT) AS n_s FROM src_counts GROUP BY source
),
corpus AS MATERIALIZED (
  SELECT w, CAST(SUM(c) AS BIGINT) AS cw FROM src_counts GROUP BY w
),
tot AS MATERIALIZED (SELECT CAST(SUM(cw) AS BIGINT) AS n FROM corpus),
grid AS (
  SELECT st.source, st.n_s, c.w,
         ROUND(COALESCE(sc.c, 0) / CAST(st.n_s AS DOUBLE), 8) AS p,
         ROUND(c.cw / CAST((SELECT n FROM tot) AS DOUBLE), 8) AS q
  FROM src_tot st
  CROSS JOIN corpus c
  LEFT JOIN src_counts sc ON sc.source = st.source AND sc.w = c.w
),
terms AS (
  SELECT source, n_s,
         CASE WHEN p > 0
              THEN ROUND(p * ln(p / ((p + q) / 2)), 10) ELSE 0 END AS pt,
         ROUND(q * ln(q / ((p + q) / 2)), 10) AS qt
  FROM grid
)
SELECT source, CAST(MAX(n_s) AS BIGINT) AS n_tokens,
       ROUND(0.5 * (CAST(SUM(CAST(pt AS DECIMAL(20,10))) AS DOUBLE)
                    + CAST(SUM(CAST(qt AS DECIMAL(20,10))) AS DOUBLE)), 6) AS jsd,
       CAST(ROW_NUMBER() OVER (
         ORDER BY ROUND(0.5 * (CAST(SUM(CAST(pt AS DECIMAL(20,10))) AS DOUBLE)
                    + CAST(SUM(CAST(qt AS DECIMAL(20,10))) AS DOUBLE)), 6) DESC,
         source) AS INT) AS rk
FROM terms GROUP BY source
""",
)
def q299_jsd_source_drift(spark, sf_dir):
    """JENSEN-SHANNON DIVERGENCE of each source's unigram distribution
    from the corpus distribution — the vocabulary-level domain-shift
    ledger (which shards are lexically farthest from the mix they
    feed? — the categorical complement of q161's numeric PSI and the
    pairwise-overlap q160 reduced to one number per source): JSD(p,q)
    = 0.5 KL(p||m) + 0.5 KL(q||m), m the midpoint.

    Scale discipline: the corpus reduces to a (source x vocabulary)
    count grid — vocabulary-bounded, never corpus-bounded; the
    missing-cell completion is a broadcast-sized cross join of the
    source ledger with the vocab table. Probabilities snap to 8
    digits, each entropy term to 10 before DECIMAL sums, so both KL
    arms are partition-order free. One corpus scan total."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("source", F.explode(F.split("text", " ")).alias("w"))
    src_counts = tok.groupBy("source", "w").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    ).transform(managed_persist)
    src_tot = src_counts.groupBy("source").agg(
        F.sum("c").cast("bigint").alias("n_s")
    )
    corpus = src_counts.groupBy("w").agg(F.sum("c").cast("bigint").alias("cw"))
    tot = corpus.agg(F.sum("cw").cast("bigint").alias("n"))
    grid = (
        src_tot.crossJoin(F.broadcast(corpus))
        .crossJoin(F.broadcast(tot))
        .join(F.broadcast(src_counts), ["source", "w"], "left")
        .select(
            "source",
            "n_s",
            F.round(
                F.coalesce(F.col("c"), F.lit(0)) / F.col("n_s").cast("double"), 8
            ).alias("p"),
            F.round(F.col("cw") / F.col("n").cast("double"), 8).alias("q"),
        )
    )
    p, q = F.col("p"), F.col("q")
    mid = (p + q) / 2
    terms = grid.select(
        "source",
        "n_s",
        F.when(p > 0, F.round(p * F.log(p / mid), 10)).otherwise(F.lit(0.0)).alias(
            "pt"
        ),
        F.round(q * F.log(q / mid), 10).alias("qt"),
    )
    jsd = F.round(
        0.5
        * (
            F.sum(F.col("pt").cast("decimal(20,10)")).cast("double")
            + F.sum(F.col("qt").cast("decimal(20,10)")).cast("double")
        ),
        6,
    )
    agg = terms.groupBy("source").agg(
        F.max("n_s").cast("bigint").alias("n_tokens"), jsd.alias("jsd")
    )
    from pyspark.sql import Window as W

    return agg.select(
        "source",
        "n_tokens",
        "jsd",
        F.row_number()
        .over(W.orderBy(F.col("jsd").desc(), "source"))
        .cast("int")
        .alias("rk"),
    )


_MIX_ALPHA = 0.3
_MIX_BUDGET = 1000


@query(
    "q300_temperature_mixture",
    oracle=f"""
WITH per_src AS MATERIALIZED (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
),
tot AS MATERIALIZED (
  SELECT CAST(SUM(n_docs) AS BIGINT) AS nd, CAST(SUM(n_tokens) AS BIGINT) AS nt
  FROM per_src
),
powed AS MATERIALIZED (
  SELECT source, n_docs, n_tokens,
         ROUND(n_docs / CAST((SELECT nd FROM tot) AS DOUBLE), 10) AS share_d,
         ROUND(exp({_MIX_ALPHA!r} * ln(n_docs / CAST((SELECT nd FROM tot) AS DOUBLE))), 10) AS pw_d,
         ROUND(exp({_MIX_ALPHA!r} * ln(n_tokens / CAST((SELECT nt FROM tot) AS DOUBLE))), 10) AS pw_t
  FROM per_src
),
norms AS (
  SELECT CAST(SUM(CAST(pw_d AS DECIMAL(14,10))) AS DOUBLE) AS sd,
         CAST(SUM(CAST(pw_t AS DECIMAL(14,10))) AS DOUBLE) AS st
  FROM powed
)
SELECT p.source, p.n_docs, p.n_tokens,
       ROUND(p.pw_d / n.sd, 8) AS w_docs,
       ROUND(p.pw_t / n.st, 8) AS w_tokens,
       ROUND(ROUND(p.pw_d / n.sd, 8) * {_MIX_BUDGET}, 4) AS expected_docs,
       ROUND(ROUND(p.pw_d / n.sd, 8) / p.share_d, 6) AS upsample_factor
FROM powed p CROSS JOIN norms n
""",
)
def q300_temperature_mixture(spark, sf_dir):
    """TEMPERATURE-SCALED DOMAIN MIXTURE (the multilingual/multi-domain
    sampling law of XLM-R / mT5: q_s proportional to p_s^alpha,
    alpha=0.3 — flattens the source distribution so rare shards are
    upsampled without letting any shard dominate; the analytic
    counterpart of q115's quota-based mixture draw): per-source
    doc-share and token-share weights, the expected-docs allocation at
    a 1000-doc budget, and each shard's upsample factor.

    Scale discipline: one corpus scan reduces to the source ledger
    (domain-bounded); everything downstream is arithmetic over that
    tiny table. p^alpha is computed as exp(alpha*ln p) — the one
    transcendental composition both engines evaluate identically —
    then snapped to 10 digits; normalizers are DECIMAL sums, weights
    snap at 8 before the budget multiply."""
    docs = load_table(spark, sf_dir, "documents")
    per_src = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.size(F.split("text", " "))).cast("bigint").alias("n_tokens"),
    ).transform(managed_persist)
    tot = per_src.agg(
        F.sum("n_docs").cast("bigint").alias("nd"),
        F.sum("n_tokens").cast("bigint").alias("nt"),
    )
    a = F.lit(_MIX_ALPHA)
    powed = per_src.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "n_tokens",
        F.round(F.col("n_docs") / F.col("nd").cast("double"), 10).alias("share_d"),
        F.round(
            F.exp(a * F.log(F.col("n_docs") / F.col("nd").cast("double"))), 10
        ).alias("pw_d"),
        F.round(
            F.exp(a * F.log(F.col("n_tokens") / F.col("nt").cast("double"))), 10
        ).alias("pw_t"),
    ).transform(managed_persist)
    norms = powed.agg(
        F.sum(F.col("pw_d").cast("decimal(14,10)")).cast("double").alias("sd"),
        F.sum(F.col("pw_t").cast("decimal(14,10)")).cast("double").alias("st"),
    )
    w_docs = F.round(F.col("pw_d") / F.col("sd"), 8)
    return powed.crossJoin(F.broadcast(norms)).select(
        "source",
        "n_docs",
        "n_tokens",
        w_docs.alias("w_docs"),
        F.round(F.col("pw_t") / F.col("st"), 8).alias("w_tokens"),
        F.round(w_docs * _MIX_BUDGET, 4).alias("expected_docs"),
        F.round(w_docs / F.col("share_d"), 6).alias("upsample_factor"),
    )


@query(
    "q321_topic_coherence",
    oracle="""
WITH tok AS MATERIALIZED (
  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w FROM documents
),
cls AS MATERIALIZED (
  SELECT lang, w, CAST(COUNT(*) AS BIGINT) AS c FROM tok GROUP BY lang, w
),
top5 AS MATERIALIZED (
  SELECT lang, w, rnk FROM (
    SELECT lang, w, c,
           ROW_NUMBER() OVER (PARTITION BY lang ORDER BY c DESC, w) AS rnk
    FROM cls
  ) WHERE rnk <= 5
),
docword AS MATERIALIZED (
  SELECT DISTINCT doc_id, w FROM tok
  WHERE w IN (SELECT w FROM top5)
),
df AS MATERIALIZED (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS d FROM docword GROUP BY w
),
codf AS MATERIALIZED (
  SELECT a.w AS wi, b.w AS wj, CAST(COUNT(*) AS BIGINT) AS dij
  FROM docword a JOIN docword b ON b.doc_id = a.doc_id AND a.w <> b.w
  GROUP BY a.w, b.w
),
pairs AS (
  SELECT hi.lang, hi.w AS wi, lo.w AS wj,
         COALESCE(c.dij, 0) AS dij, dj.d AS dj
  FROM top5 hi
  JOIN top5 lo ON lo.lang = hi.lang AND lo.rnk > hi.rnk
  LEFT JOIN codf c ON c.wi = hi.w AND c.wj = lo.w
  JOIN df dj ON dj.w = lo.w
),
terms AS (
  SELECT lang,
         ROUND(ln((dij + 1) / CAST(dj AS DOUBLE)), 10) AS term
  FROM pairs
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       ROUND(CAST(SUM(CAST(term AS DECIMAL(20,10))) AS DOUBLE) / COUNT(*), 6)
         AS umass_coherence
FROM terms GROUP BY lang
""",
)
def q321_topic_coherence(spark, sf_dir):
    """UMASS TOPIC COHERENCE (Mimno 2011 — the standard automatic
    grade for topic quality: do a topic's top words actually co-occur
    in documents, or is the topic an artifact? The missing EVAL for
    the c-TF-IDF topic labeler q243 and the community labels
    q151/q108): per language class, top-5 tokens by class frequency,
    C = mean over ordered pairs of ln((D(wi,wj)+1)/D(wj)).

    Scale discipline: document frequencies and co-document counts are
    computed ONLY for the <= classes x 5 shortlisted words (the
    docword projection pushes the IN-list to the scan), so the
    co-occurrence self-join is shortlist-bounded, never
    vocabulary-bounded; per-pair ln terms snap at 10 digits into
    DECIMAL sums."""
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", "lang", F.explode(F.split("text", " ")).alias("w"))
    cls = tok.groupBy("lang", "w").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    top5 = (
        cls.withColumn(
            "rnk",
            F.row_number().over(W.partitionBy("lang").orderBy(F.col("c").desc(), "w")),
        )
        .where(F.col("rnk") <= 5)
        .select("lang", "w", "rnk")
        .transform(managed_persist)
    )
    shortlist = top5.select("w").distinct()
    docword = (
        tok.join(F.broadcast(shortlist), "w")
        .select("doc_id", "w")
        .distinct()
        .transform(managed_persist)
    )
    dfreq = docword.groupBy("w").agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    codf = (
        docword.join(
            docword.select(F.col("doc_id"), F.col("w").alias("wj")), "doc_id"
        )
        .where(F.col("w") != F.col("wj"))
        .groupBy(F.col("w").alias("wi"), "wj")
        .agg(F.count(F.lit(1)).cast("bigint").alias("dij"))
    )
    pairs = (
        top5.alias("hi")
        .join(
            top5.alias("lo"),
            (F.col("lo.lang") == F.col("hi.lang"))
            & (F.col("lo.rnk") > F.col("hi.rnk")),
        )
        .select(
            F.col("hi.lang").alias("lang"),
            F.col("hi.w").alias("wi"),
            F.col("lo.w").alias("wj"),
        )
        .join(F.broadcast(codf), ["wi", "wj"], "left")
        .join(F.broadcast(dfreq.select(F.col("w").alias("wj"), F.col("d").alias("dj"))), "wj")
        .select(
            "lang",
            F.round(
                F.log(
                    (F.coalesce(F.col("dij"), F.lit(0)) + 1)
                    / F.col("dj").cast("double")
                ),
                10,
            ).alias("term"),
        )
    )
    return pairs.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.round(
            F.sum(F.col("term").cast("decimal(20,10)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("umass_coherence"),
    )


_CLS_SQL_PRED = """
  SELECT lang AS actual,
         CASE WHEN GREATEST(s_de, s_en, s_es, s_fr, s_zh) = 0 THEN 'und'
              WHEN s_de = GREATEST(s_de, s_en, s_es, s_fr, s_zh) THEN 'de'
              WHEN s_en = GREATEST(s_de, s_en, s_es, s_fr, s_zh) THEN 'en'
              WHEN s_es = GREATEST(s_de, s_en, s_es, s_fr, s_zh) THEN 'es'
              WHEN s_fr = GREATEST(s_de, s_en, s_es, s_fr, s_zh) THEN 'fr'
              ELSE 'zh' END AS predicted
  FROM (
    SELECT lang,
           len(list_filter(string_split(text, ' '), w -> w IN ('der', 'und', 'die'))) AS s_de,
           len(list_filter(string_split(text, ' '), w -> w IN ('the', 'and', 'of'))) AS s_en,
           len(list_filter(string_split(text, ' '), w -> w IN ('el', 'la', 'de'))) AS s_es,
           len(list_filter(string_split(text, ' '), w -> w IN ('le', 'et', 'les'))) AS s_fr,
           len(list_filter(string_split(text, ' '), w -> w IN ('de5', 'le5', 'he2'))) AS s_zh
    FROM documents
  )
"""


@query(
    "q327_classification_report",
    oracle=f"""
WITH preds AS MATERIALIZED ({_CLS_SQL_PRED}),
classes AS MATERIALIZED (SELECT DISTINCT actual AS cls FROM preds),
cells AS MATERIALIZED (
  SELECT c.cls,
         CAST(SUM(CASE WHEN p.predicted = c.cls AND p.actual = c.cls
                       THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         CAST(SUM(CASE WHEN p.predicted = c.cls AND p.actual <> c.cls
                       THEN 1 ELSE 0 END) AS BIGINT) AS fp,
         CAST(SUM(CASE WHEN p.predicted <> c.cls AND p.actual = c.cls
                       THEN 1 ELSE 0 END) AS BIGINT) AS fn
  FROM preds p CROSS JOIN classes c
  GROUP BY c.cls
),
per_class AS (
  SELECT cls, tp, fp, fn, tp + fn AS support,
         ROUND(CASE WHEN tp + fp = 0 THEN 0.0
                    ELSE tp / CAST(tp + fp AS DOUBLE) END, 6) AS prec,
         ROUND(CASE WHEN tp + fn = 0 THEN 0.0
                    ELSE tp / CAST(tp + fn AS DOUBLE) END, 6) AS rec
  FROM cells
),
rows_out AS (
  SELECT cls, CAST(support AS BIGINT) AS support, prec, rec,
         ROUND(CASE WHEN prec + rec = 0 THEN 0.0
                    ELSE 2 * prec * rec / (prec + rec) END, 6) AS f1
  FROM per_class
  UNION ALL
  SELECT '__micro__',
         CAST(SUM(support) AS BIGINT),
         ROUND(SUM(tp) / CAST(SUM(tp) + SUM(fp) AS DOUBLE), 6),
         ROUND(SUM(tp) / CAST(SUM(tp) + SUM(fn) AS DOUBLE), 6),
         ROUND(SUM(tp) / CAST(SUM(tp) + SUM(fp) AS DOUBLE), 6)
  FROM per_class
  UNION ALL
  SELECT '__macro__',
         CAST(SUM(support) AS BIGINT),
         ROUND(CAST(SUM(CAST(prec AS DECIMAL(10,6))) AS DOUBLE) / COUNT(*), 6),
         ROUND(CAST(SUM(CAST(rec AS DECIMAL(10,6))) AS DOUBLE) / COUNT(*), 6),
         ROUND(CAST(SUM(CAST(ROUND(CASE WHEN prec + rec = 0 THEN 0.0
                    ELSE 2 * prec * rec / (prec + rec) END, 6)
                 AS DECIMAL(10,6))) AS DOUBLE) / COUNT(*), 6)
  FROM per_class
)
SELECT cls, support, prec AS "precision", rec AS recall, f1 FROM rows_out
""",
)
def q327_classification_report(spark, sf_dir):
    """MULTI-CLASS CLASSIFICATION REPORT (sklearn classification_report
    parity: per-class precision/recall/F1/support plus micro and macro
    averages — micro == accuracy in single-label problems, macro
    punishes minority-class neglect) for the q62 lang-ID heuristic
    against the lang column; the multi-class completion of q09's
    binary confusion matrix and the classifier leg of the eval-harness
    family (q217/q221/q223/q251).

    Scale discipline: predictions are one corpus projection; the
    class x prediction cell counts are ONE aggregate over a class-
    domain cross join (|classes| terms per row, map-side-combinable);
    micro/macro rows are arithmetic over the class-bounded table with
    DECIMAL-snapped macro means. The micro F1 equals micro precision
    equals micro recall by construction (single-label), which the
    oracle asserts by emitting the same expression."""
    from variantcalling_spark.functions.text import predict_lang

    docs = load_table(spark, sf_dir, "documents")
    preds = docs.select(
        F.col("lang").alias("actual"), predict_lang(F.col("text")).alias("predicted")
    ).transform(managed_persist)
    classes = preds.select(F.col("actual").alias("cls")).distinct()
    p, c = F.col("predicted"), F.col("cls")
    a = F.col("actual")
    cells = (
        preds.crossJoin(F.broadcast(classes))
        .groupBy("cls")
        .agg(
            F.sum(F.when((p == c) & (a == c), 1).otherwise(0)).cast("bigint").alias("tp"),
            F.sum(F.when((p == c) & (a != c), 1).otherwise(0)).cast("bigint").alias("fp"),
            F.sum(F.when((p != c) & (a == c), 1).otherwise(0)).cast("bigint").alias("fn"),
        )
    )
    tp, fp, fn = F.col("tp"), F.col("fp"), F.col("fn")
    prec = F.round(
        F.when(tp + fp == 0, F.lit(0.0)).otherwise(tp / (tp + fp).cast("double")), 6
    )
    rec = F.round(
        F.when(tp + fn == 0, F.lit(0.0)).otherwise(tp / (tp + fn).cast("double")), 6
    )
    per_class = cells.select(
        "cls", "tp", "fp", "fn", (tp + fn).alias("support"), prec.alias("prec"), rec.alias("rec")
    ).transform(managed_persist)
    pr, rc = F.col("prec"), F.col("rec")
    f1 = F.round(
        F.when(pr + rc == 0, F.lit(0.0)).otherwise(2 * pr * rc / (pr + rc)), 6
    )
    class_rows = per_class.select(
        "cls",
        F.col("support").cast("bigint").alias("support"),
        pr.alias("precision"),
        rc.alias("recall"),
        f1.alias("f1"),
    )
    micro_p = F.round(F.sum(tp) / (F.sum(tp) + F.sum(fp)).cast("double"), 6)
    micro_r = F.round(F.sum(tp) / (F.sum(tp) + F.sum(fn)).cast("double"), 6)
    micro = per_class.agg(
        F.sum("support").cast("bigint").alias("support"),
        micro_p.alias("precision"),
        micro_r.alias("recall"),
        micro_p.alias("f1"),
    ).select(F.lit("__micro__").alias("cls"), "support", "precision", "recall", "f1")
    macro = per_class.agg(
        F.sum("support").cast("bigint").alias("support"),
        F.round(
            F.sum(pr.cast("decimal(10,6)")).cast("double") / F.count(F.lit(1)), 6
        ).alias("precision"),
        F.round(
            F.sum(rc.cast("decimal(10,6)")).cast("double") / F.count(F.lit(1)), 6
        ).alias("recall"),
        F.round(
            F.sum(f1.cast("decimal(10,6)")).cast("double") / F.count(F.lit(1)), 6
        ).alias("f1"),
    ).select(F.lit("__macro__").alias("cls"), "support", "precision", "recall", "f1")
    return class_rows.unionByName(micro).unionByName(macro)


@query(
    "q342_symspell_matches",
    oracle="""
WITH base_vocab AS MATERIALIZED (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS freq FROM (
    SELECT unnest(string_split(text, ' ')) AS w FROM documents
  ) GROUP BY w
),
typos AS MATERIALIZED (
  -- deterministic typo shard (drop the 3rd char of every long frequent
  -- word, 1/50th the frequency) -- the NEARDUP-corpus convention: the
  -- driver corpus has no natural 1-edit pairs, so plant verifiable ones
  SELECT t.tw AS w, GREATEST(b.freq // 50, 1) AS freq
  FROM (
    SELECT w, freq, substr(w, 1, 2) || substr(w, 4) AS tw
    FROM base_vocab WHERE length(w) >= 4 AND freq >= 100
  ) t
  JOIN base_vocab b ON b.w = t.w
  WHERE t.tw NOT IN (SELECT w FROM base_vocab)
),
vocab AS MATERIALIZED (
  SELECT w, CAST(SUM(freq) AS BIGINT) AS freq FROM (
    SELECT * FROM base_vocab UNION ALL SELECT * FROM typos
  ) GROUP BY w
),
dels AS MATERIALIZED (
  SELECT w, freq, key FROM (
    SELECT w, freq,
           unnest(list_distinct(
             list_append(
               [substr(w, 1, i - 1) || substr(w, i + 1)
                for i in generate_series(1, length(w))],
               w))) AS key
    FROM vocab
  )
),
cand AS MATERIALIZED (
  SELECT DISTINCT a.w AS w1, b.w AS w2,
         a.freq AS freq1, b.freq AS freq2
  FROM dels a JOIN dels b ON b.key = a.key AND a.w < b.w
),
verified AS (
  SELECT w1, w2, freq1, freq2,
         CAST(levenshtein(w1, w2) AS INT) AS dist
  FROM cand
  WHERE levenshtein(w1, w2) = 1
)
SELECT w1, w2, freq1, freq2, dist,
       CASE WHEN freq1 >= 10 * freq2 THEN w2
            WHEN freq2 >= 10 * freq1 THEN w1
            ELSE NULL END AS suspected_typo
FROM verified
""",
)
def q342_symspell_matches(spark, sf_dir):
    """SYMSPELL EDIT-DISTANCE-1 VOCABULARY MATCHING (the
    deletion-neighborhood trick: two words are within one edit iff
    they share a 1-deletion key — so fuzzy matching becomes an
    EQUI-JOIN on generated keys, never an all-pairs distance scan;
    the typo-clustering pass of vocabulary cleanup, and the text twin
    of q241's masked-position Hamming-1 UMI join): candidate pairs
    from the deletion-key join, verified with exact levenshtein = 1,
    with the SymSpell frequency heuristic (a much rarer 1-edit
    variant of a frequent word = suspected typo; 10x at toy scale).
    The driver corpus has no natural 1-edit pairs, so a deterministic
    typo shard is planted on BOTH engines first (the NEARDUP-corpus
    convention for making approximate operators value-checkable).

    Scale discipline: each word generates length+1 keys (bounded by
    word length), the join is on the key hash — candidates scale with
    genuine near-matches, not vocab^2; the levenshtein verify runs
    only on candidates. Exact integer frequencies and distances."""
    docs = load_table(spark, sf_dir, "documents")
    base_vocab = (
        docs.select(F.explode(F.split("text", " ")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
        .transform(managed_persist)
    )
    # deterministic typo shard (NEARDUP-corpus convention): the driver
    # corpus has no natural 1-edit pairs, so plant verifiable ones
    typo_w = F.concat(
        F.substring("w", 1, 2), F.expr("substr(w, 4, length(w))")
    )
    typos = (
        base_vocab.where((F.length("w") >= 4) & (F.col("freq") >= 100))
        .select(typo_w.alias("w"), F.greatest(
            F.expr("freq DIV 50"), F.lit(1).cast("bigint")).alias("freq"))
        .join(base_vocab.select(F.col("w")), "w", "left_anti")
    )
    vocab = (
        base_vocab.unionByName(typos)
        .groupBy("w")
        .agg(F.sum("freq").cast("bigint").alias("freq"))
        .transform(managed_persist)
    )
    ws = F.col("w")
    dels = vocab.select(
        "w",
        "freq",
        F.explode(
            F.array_distinct(
                F.concat(
                    F.transform(
                        F.sequence(F.lit(1), F.length(ws)),
                        lambda i: F.concat(
                            F.substring(ws, F.lit(1), (i - 1).cast("int")),
                            ws.substr(i + 1, F.length(ws)),
                        ),
                    ),
                    F.array(ws),
                )
            )
        ).alias("key"),
    )
    cand = (
        dels.select(F.col("w").alias("w1"), F.col("freq").alias("freq1"), "key")
        .join(
            dels.select(F.col("w").alias("w2"), F.col("freq").alias("freq2"), "key"),
            "key",
        )
        .where(F.col("w1") < F.col("w2"))
        .select("w1", "w2", "freq1", "freq2")
        .distinct()
    )
    verified = cand.where(F.levenshtein("w1", "w2") == 1).select(
        "w1",
        "w2",
        "freq1",
        "freq2",
        F.levenshtein("w1", "w2").cast("int").alias("dist"),
    )
    return verified.select(
        "w1",
        "w2",
        "freq1",
        "freq2",
        "dist",
        F.when(F.col("freq1") >= 10 * F.col("freq2"), F.col("w2"))
        .when(F.col("freq2") >= 10 * F.col("freq1"), F.col("w1"))
        .otherwise(F.lit(None).cast("string"))
        .alias("suspected_typo"),
    )


@query(
    "q347_wasserstein_drift",
    oracle="""
WITH vals AS MATERIALIZED (
  SELECT source, n_chars AS v FROM documents
),
support AS MATERIALIZED (
  SELECT DISTINCT v FROM vals
),
src_tot AS MATERIALIZED (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS ns FROM vals GROUP BY source
),
tot AS MATERIALIZED (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM vals),
src_hist AS MATERIALIZED (
  SELECT source, v, CAST(COUNT(*) AS BIGINT) AS c
  FROM vals GROUP BY source, v
),
corpus_hist AS MATERIALIZED (
  SELECT v, CAST(COUNT(*) AS BIGINT) AS c FROM vals GROUP BY v
),
grid AS MATERIALIZED (
  SELECT st.source, st.ns, s.v,
         COALESCE(sh.c, 0) AS cs,
         ch.c AS cc
  FROM src_tot st
  CROSS JOIN support s
  JOIN corpus_hist ch ON ch.v = s.v
  LEFT JOIN src_hist sh ON sh.source = st.source AND sh.v = s.v
),
cdfs AS (
  SELECT source, ns, v,
         SUM(cs) OVER w AS cum_s,
         SUM(cc) OVER w AS cum_c,
         LEAD(v) OVER (PARTITION BY source ORDER BY v) AS v_next
  FROM grid
  WINDOW w AS (PARTITION BY source ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
terms AS (
  SELECT source,
         ROUND(ABS(cum_s / CAST(ns AS DOUBLE)
                   - cum_c / CAST((SELECT n FROM tot) AS DOUBLE))
               * (v_next - v), 8) AS t
  FROM cdfs WHERE v_next IS NOT NULL
)
SELECT source,
       ROUND(CAST(SUM(CAST(t AS DECIMAL(20,8))) AS DOUBLE), 4) AS wasserstein_1,
       CAST(ROW_NUMBER() OVER (
         ORDER BY ROUND(CAST(SUM(CAST(t AS DECIMAL(20,8))) AS DOUBLE), 4) DESC,
                  source) AS INT) AS rk
FROM terms GROUP BY source
""",
)
def q347_wasserstein_drift(spark, sf_dir):
    """1-D WASSERSTEIN (earth-mover) DISTANCE of each source's
    document-length distribution from the corpus mix — the
    TRANSPORT-metric drift ledger that, unlike q161's binned PSI or
    q171's sup-norm KS, scales with HOW FAR the mass moved, not just
    that it moved: W1 = integral |F_s - F_corpus| over the shared
    support, exact on the value histogram.

    Scale discipline: the closed form needs only the (source x
    distinct-value) CDF grid — value-domain-bounded; CDF differences
    integrate as |step| x gap terms snapped at 8 into DECIMAL sums;
    one corpus scan total."""
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    vals = docs.select("source", F.col("n_chars").alias("v"))
    support = vals.select("v").distinct()
    src_tot = vals.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("ns")
    )
    tot = vals.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    src_hist = vals.groupBy("source", "v").agg(
        F.count(F.lit(1)).cast("bigint").alias("cs")
    )
    corpus_hist = vals.groupBy("v").agg(
        F.count(F.lit(1)).cast("bigint").alias("cc")
    )
    grid = (
        src_tot.crossJoin(F.broadcast(support))
        .join(F.broadcast(corpus_hist), "v")
        .join(src_hist, ["source", "v"], "left")
        .select(
            "source",
            "ns",
            "v",
            F.coalesce(F.col("cs"), F.lit(0)).alias("cs"),
            "cc",
        )
    )
    w = W.partitionBy("source").orderBy("v").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    cdfs = grid.crossJoin(F.broadcast(tot)).select(
        "source",
        "ns",
        "v",
        "n",
        F.sum("cs").over(w).alias("cum_s"),
        F.sum("cc").over(w).alias("cum_c"),
        F.lead("v").over(W.partitionBy("source").orderBy("v")).alias("v_next"),
    )
    terms = cdfs.where(F.col("v_next").isNotNull()).select(
        "source",
        F.round(
            F.abs(
                F.col("cum_s") / F.col("ns").cast("double")
                - F.col("cum_c") / F.col("n").cast("double")
            )
            * (F.col("v_next") - F.col("v")),
            8,
        ).alias("t"),
    )
    w1 = F.round(F.sum(F.col("t").cast("decimal(20,8)")).cast("double"), 4)
    agg = terms.groupBy("source").agg(w1.alias("wasserstein_1"))
    return agg.select(
        "source",
        "wasserstein_1",
        F.row_number()
        .over(W.orderBy(F.col("wasserstein_1").desc(), "source"))
        .cast("int")
        .alias("rk"),
    )


_RARE_FRACS = (25, 50, 75, 100)


def _rarefaction_oracle_sql() -> str:
    from variantcalling_spark.operators.dedup import PORTABLE_HASH_SQL

    keep = PORTABLE_HASH_SQL.format(
        col="CAST(doc_id AS STRING) || ':' || CAST(pos AS VARCHAR)"
    )
    fracs = ", ".join(f"({f})" for f in _RARE_FRACS)
    return f"""
WITH tok AS MATERIALIZED (
  SELECT doc_id, pos, w FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS w,
           generate_subscripts(string_split(text, ' '), 1) AS pos
    FROM documents
  )
),
keyed AS MATERIALIZED (
  SELECT w, ({keep}) % 100 AS coin FROM tok
),
fr AS (SELECT * FROM (VALUES {fracs}) AS t(f)),
kept AS (
  SELECT fr.f, k.w FROM keyed k JOIN fr ON k.coin < fr.f
)
SELECT CAST(f AS INT) AS pct_tokens,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(COUNT(DISTINCT w) AS BIGINT) AS vocab_size,
       ROUND(COUNT(DISTINCT w) / CAST(COUNT(*) AS DOUBLE), 6)
         AS type_token_ratio
FROM kept GROUP BY f
"""


@query("q351_vocab_rarefaction", oracle=_rarefaction_oracle_sql())
def q351_vocab_rarefaction(spark, sf_dir):
    """VOCABULARY RAREFACTION CURVE (the ecology-borrowed saturation
    measurement: how many distinct types does a 25/50/75/100% token
    subsample contain? — the MEASURED counterpart of q249's fitted
    Heaps' law, and the text twin of q326's coverage titration; the
    curve that answers "will more data still grow the vocabulary?"):
    hash-deterministic token thinning, distinct-type counts and
    type-token ratios per fraction.

    Scale discipline: the deterministic coin is a projection; the
    fraction spine fans out the FILTER, not the data; each fraction's
    distinct count is one hash aggregate. No RNG state, identical
    subsamples on every engine and every retry."""
    from variantcalling_spark.operators.dedup import portable_string_hash

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos0", "w")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "w")
    keyed = tok.select(
        "w",
        (
            portable_string_hash(
                F.concat(
                    F.col("doc_id").cast("string"),
                    F.lit(":"),
                    F.col("pos").cast("string"),
                )
            )
            % 100
        ).alias("coin"),
    ).transform(managed_persist)
    fr = spark.createDataFrame([(f,) for f in _RARE_FRACS], "f int")
    kept = keyed.crossJoin(F.broadcast(fr)).where(F.col("coin") < F.col("f"))
    return kept.groupBy(F.col("f").cast("int").alias("pct_tokens")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
        F.countDistinct("w").cast("bigint").alias("vocab_size"),
        F.round(
            F.countDistinct("w") / F.count(F.lit(1)).cast("double"), 6
        ).alias("type_token_ratio"),
    )


_TR_ITERS = 3
_TR_SCALE = 1_000_000_000_000


def _textrank_oracle_sql() -> str:
    parts = [
        f"""
WITH ws AS MATERIALIZED (
  SELECT string_split(text, ' ') AS w FROM documents
),
pairbase AS (
  SELECT unnest([w[i] || chr(1) || w[i + 1]
                 for i in generate_series(1, len(w) - 1)
                 if w[i] <> w[i + 1]]) AS p
  FROM ws WHERE len(w) >= 2
  UNION ALL
  SELECT unnest([w[i] || chr(1) || w[i + 2]
                 for i in generate_series(1, len(w) - 2)
                 if w[i] <> w[i + 2]]) AS p
  FROM ws WHERE len(w) >= 3
),
prs AS MATERIALIZED (
  SELECT string_split(p, chr(1))[1] AS w1,
         string_split(p, chr(1))[2] AS w2,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM pairbase GROUP BY 1, 2
),
edges AS MATERIALIZED (
  SELECT w1 AS src, w2 AS dst, CAST(SUM(cnt) AS BIGINT) AS wt FROM (
    SELECT w1, w2, cnt FROM prs
    UNION ALL
    SELECT w2 AS w1, w1 AS w2, cnt FROM prs
  ) GROUP BY w1, w2
),
nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM edges),
nn AS MATERIALIZED (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes),
wdeg AS MATERIALIZED (
  SELECT src, CAST(SUM(wt) AS BIGINT) AS deg FROM edges GROUP BY src
),
r0 AS MATERIALIZED (
  SELECT node, CAST({_TR_SCALE} // (SELECT n FROM nn) AS BIGINT) AS r
  FROM nodes
)"""
    ]
    prev = "r0"
    for i in range(1, _TR_ITERS + 1):
        parts.append(
            f""",
it{i} AS MATERIALIZED (
  SELECT e.dst AS node, CAST(SUM(({prev}.r * e.wt) // o.deg) AS BIGINT) AS s
  FROM edges e JOIN {prev} ON {prev}.node = e.src
  JOIN wdeg o ON o.src = e.src
  GROUP BY e.dst
),
r{i} AS MATERIALIZED (
  SELECT n.node,
         CAST((15 * {_TR_SCALE}) // (100 * (SELECT n FROM nn))
              + (85 * COALESCE(it{i}.s, 0)) // 100 AS BIGINT) AS r
  FROM nodes n LEFT JOIN it{i} USING (node)
)"""
        )
        prev = f"r{i}"
    parts.append(
        f"""
SELECT node AS keyword, rank_scaled, rk FROM (
  SELECT node, r AS rank_scaled,
         CAST(ROW_NUMBER() OVER (ORDER BY r DESC, node) AS INT) AS rk
  FROM {prev}
) WHERE rk <= 20
"""
    )
    return "".join(parts)


@query("q357_textrank_keywords", oracle=_textrank_oracle_sql())
def q357_textrank_keywords(spark, sf_dir):
    """TEXTRANK KEYWORD EXTRACTION (Mihalcea-Tarau 2004 — PageRank on
    the word CO-OCCURRENCE graph instead of the document kNN graph
    q144 ranks: a word matters if it co-occurs with words that
    matter): +-2-window co-occurrence edges weighted by count,
    3 weighted-PageRank iterations in fixed-point bigints (r*w DIV
    weighted-degree — integer-exact, order-free), top-20 keyword
    ledger.

    Scale discipline: edges are VOCABULARY-bounded (the q282 window
    pairs aggregated); each iteration is one equi-join + one
    map-side-combinable SUM over that bounded table; the corpus is
    scanned once. The oracle unrolls the same iterations as
    MATERIALIZED CTEs (the q292 rule)."""
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    ws = docs.select(F.split("text", " ").alias("w"))
    w = F.col("w")
    pairs = None
    for o in (1, 2):
        pr = ws.where(F.size(w) > o).select(
            F.explode(
                F.filter(
                    F.transform(
                        F.sequence(F.lit(1), F.size(w) - o),
                        lambda i: F.struct(
                            F.element_at(w, i).alias("w1"),
                            F.element_at(w, i + o).alias("w2"),
                        ),
                    ),
                    lambda s: s.getField("w1") != s.getField("w2"),
                )
            ).alias("pr")
        ).select(F.col("pr.w1").alias("w1"), F.col("pr.w2").alias("w2"))
        pairs = pr if pairs is None else pairs.unionByName(pr)
    prs = pairs.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    edges = (
        prs.select(F.col("w1").alias("src"), F.col("w2").alias("dst"), "cnt")
        .unionByName(
            prs.select(F.col("w2").alias("src"), F.col("w1").alias("dst"), "cnt")
        )
        .groupBy("src", "dst")
        .agg(F.sum("cnt").cast("bigint").alias("wt"))
        .transform(managed_persist)
    )
    nodes = edges.select(F.col("src").alias("node")).distinct().transform(
        managed_persist
    )
    nn = nodes.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    wdeg = edges.groupBy("src").agg(F.sum("wt").cast("bigint").alias("deg"))
    ranks = nodes.crossJoin(F.broadcast(nn)).select(
        "node", F.expr(f"CAST({_TR_SCALE} AS BIGINT) DIV n").alias("r")
    )
    for _ in range(_TR_ITERS):
        contrib = (
            edges.join(ranks.withColumnRenamed("node", "src"), "src")
            .join(wdeg, "src")
            .select(
                F.col("dst").alias("node"),
                F.expr("(r * wt) DIV deg").alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").cast("bigint").alias("s"))
        )
        ranks = (
            nodes.join(contrib, "node", "left")
            .crossJoin(F.broadcast(nn))
            .select(
                "node",
                (
                    F.expr(f"CAST(15 * {_TR_SCALE} AS BIGINT) DIV (100 * n)")
                    + F.expr("85 * COALESCE(s, CAST(0 AS BIGINT)) DIV 100")
                )
                .cast("bigint")
                .alias("r"),
            )
        ).localCheckpoint(eager=True)
    top = ranks.orderBy(F.col("r").desc(), "node").limit(20)
    return top.select(
        F.col("node").alias("keyword"),
        F.col("r").alias("rank_scaled"),
        F.row_number()
        .over(W.orderBy(F.col("r").desc(), "node"))
        .cast("int")
        .alias("rk"),
    )


@query(
    "q364_keyness_g2",
    oracle="""
WITH tok AS MATERIALIZED (
  SELECT source, unnest(string_split(text, ' ')) AS w FROM documents
),
sw AS MATERIALIZED (
  SELECT source, w, CAST(COUNT(*) AS BIGINT) AS a FROM tok GROUP BY source, w
),
stot AS MATERIALIZED (
  SELECT source, CAST(SUM(a) AS BIGINT) AS ns FROM sw GROUP BY source
),
wtot AS MATERIALIZED (
  SELECT w, CAST(SUM(a) AS BIGINT) AS cw FROM sw GROUP BY w
),
tot AS MATERIALIZED (SELECT CAST(SUM(cw) AS BIGINT) AS n FROM wtot),
cells AS (
  SELECT s.source, s.w, s.a,
         w.cw - s.a AS b,
         t.ns - s.a AS c,
         (SELECT n FROM tot) - w.cw - t.ns + s.a AS d,
         t.ns, w.cw, (SELECT n FROM tot) AS n
  FROM sw s
  JOIN stot t ON t.source = s.source
  JOIN wtot w ON w.w = s.w
),
g2 AS (
  SELECT source, w, a,
         ROUND(2 * (
           (CASE WHEN a > 0 THEN a * ln(a * CAST(n AS DOUBLE) / (ns * cw)) ELSE 0 END)
           + (CASE WHEN b > 0 THEN b * ln(b * CAST(n AS DOUBLE)
                / (CAST(n - ns AS DOUBLE) * cw)) ELSE 0 END)
           + (CASE WHEN c > 0 THEN c * ln(c * CAST(n AS DOUBLE)
                / (CAST(ns AS DOUBLE) * (n - cw))) ELSE 0 END)
           + (CASE WHEN d > 0 THEN d * ln(d * CAST(n AS DOUBLE)
                / (CAST(n - ns AS DOUBLE) * (n - cw))) ELSE 0 END)
         ), 6) AS keyness,
         CASE WHEN a * CAST(n AS DOUBLE) > CAST(ns AS DOUBLE) * cw
              THEN 1 ELSE 0 END AS overused
  FROM cells
)
SELECT source, w AS word, a AS n_in_source, keyness,
       CAST(overused AS INT) AS overused, rk
FROM (
  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY source
              ORDER BY keyness DESC, w) AS INT) AS rk
  FROM g2 WHERE overused = 1
) WHERE rk <= 3
""",
)
def q364_keyness_g2(spark, sf_dir):
    """KEYNESS VIA DUNNING'S LOG-LIKELIHOOD G2 (the corpus-linguistics
    standard for "which words characterize THIS source vs the rest" —
    statistically honest where q243's c-TF-IDF is a heuristic ranking
    and q160's overlap ignores magnitude): per (source, word) 2x2 G2
    over the word-vs-rest contingency, top-3 OVERUSED words per
    source.

    Scale discipline: everything reduces to the (source x word) count
    grid — vocabulary-bounded; margins broadcast; G2 is four
    guarded-ln terms per cell snapped at 6; ranking is per-source over
    the bounded grid."""
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("source", F.explode(F.split("text", " ")).alias("w"))
    sw = tok.groupBy("source", "w").agg(
        F.count(F.lit(1)).cast("bigint").alias("a")
    ).transform(managed_persist)
    stot = sw.groupBy("source").agg(F.sum("a").cast("bigint").alias("ns"))
    wtot = sw.groupBy("w").agg(F.sum("a").cast("bigint").alias("cw"))
    tot = wtot.agg(F.sum("cw").cast("bigint").alias("n"))
    cells = (
        sw.join(F.broadcast(stot), "source")
        .join(F.broadcast(wtot), "w")
        .crossJoin(F.broadcast(tot))
        .select(
            "source",
            "w",
            "a",
            (F.col("cw") - F.col("a")).alias("b"),
            (F.col("ns") - F.col("a")).alias("c"),
            (F.col("n") - F.col("cw") - F.col("ns") + F.col("a")).alias("d"),
            "ns",
            "cw",
            "n",
        )
    )
    a, b, c, d = F.col("a"), F.col("b"), F.col("c"), F.col("d")
    ns, cw, n = F.col("ns"), F.col("cw"), F.col("n")

    def term(o, e_num, e_den):
        return F.when(o > 0, o * F.log(o * n.cast("double") / (e_num * e_den))).otherwise(
            F.lit(0.0)
        )

    g2 = cells.select(
        "source",
        "w",
        "a",
        F.round(
            2
            * (
                term(a, ns.cast("double"), cw)
                + term(b, (n - ns).cast("double"), cw)
                + term(c, ns.cast("double"), (n - cw))
                + term(d, (n - ns).cast("double"), (n - cw))
            ),
            6,
        ).alias("keyness"),
        F.when(a * n.cast("double") > ns.cast("double") * cw, 1)
        .otherwise(0)
        .alias("overused"),
    )
    ranked = (
        g2.where(F.col("overused") == 1)
        .withColumn(
            "rk",
            F.row_number()
            .over(W.partitionBy("source").orderBy(F.col("keyness").desc(), "w"))
            .cast("int"),
        )
        .where(F.col("rk") <= 3)
    )
    return ranked.select(
        "source",
        F.col("w").alias("word"),
        F.col("a").alias("n_in_source"),
        "keyness",
        F.col("overused").cast("int").alias("overused"),
        "rk",
    )


@query(
    "q365_k_anonymity",
    oracle="""
WITH qi AS MATERIALIZED (
  SELECT lang, source, n_chars // 50 AS len_bucket FROM documents
),
classes AS MATERIALIZED (
  SELECT lang, source, len_bucket, CAST(COUNT(*) AS BIGINT) AS k
  FROM qi GROUP BY lang, source, len_bucket
),
tot AS MATERIALIZED (SELECT CAST(SUM(k) AS BIGINT) AS n FROM classes)
SELECT
  (SELECT CAST(COUNT(*) AS BIGINT) FROM classes) AS n_classes,
  (SELECT n FROM tot) AS n_rows,
  CAST(MIN(k) AS BIGINT) AS k_anonymity,
  CAST(SUM(CASE WHEN k < 5 THEN k ELSE 0 END) AS BIGINT) AS n_rows_below_k5,
  ROUND(SUM(CASE WHEN k < 5 THEN k ELSE 0 END)
        / CAST((SELECT n FROM tot) AS DOUBLE), 6) AS frac_reidentifiable_k5,
  CAST(SUM(CASE WHEN k = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique_rows,
  ROUND(CAST(SUM(CAST(ROUND(k * (k / CAST((SELECT n FROM tot) AS DOUBLE)), 8)
                      AS DECIMAL(20,8))) AS DOUBLE)
        / (SELECT n FROM tot) * (SELECT n FROM tot)
        / (SELECT n FROM tot), 6) AS expected_class_size_norm
FROM classes
""",
)
def q365_k_anonymity(spark, sf_dir):
    """K-ANONYMITY AUDIT of a quasi-identifier projection (the privacy
    release gate that pairs with q109's PII scrubbing: scrubbing
    direct identifiers is not enough if (lang, source, length-bucket)
    together single a document out — k = the smallest equivalence
    class, and the re-identifiable fraction below k=5 is the number a
    privacy review asks for): class-size statistics over the QI
    grid, plus the expected-class-size (journalist-risk) normalizer.

    Scale discipline: one groupBy on the QI columns (the classes
    table is QI-domain-bounded); every risk metric is arithmetic over
    class sizes — exact integers, one DECIMAL-snapped expectation."""
    docs = load_table(spark, sf_dir, "documents")
    qi = docs.select(
        "lang", "source", F.expr("n_chars DIV 50").alias("len_bucket")
    )
    classes = qi.groupBy("lang", "source", "len_bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("k")
    ).transform(managed_persist)
    tot = classes.agg(F.sum("k").cast("bigint").alias("n"))
    k = F.col("k")
    return classes.crossJoin(F.broadcast(tot)).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_classes"),
        F.max("n").cast("bigint").alias("n_rows"),
        F.min("k").cast("bigint").alias("k_anonymity"),
        F.sum(F.when(k < 5, k).otherwise(0)).cast("bigint").alias("n_rows_below_k5"),
        F.round(
            F.sum(F.when(k < 5, k).otherwise(0)) / F.max("n").cast("double"), 6
        ).alias("frac_reidentifiable_k5"),
        F.sum(F.when(k == 1, 1).otherwise(0)).cast("bigint").alias("n_unique_rows"),
        F.round(
            F.sum(
                F.round(k * (k / F.col("n").cast("double")), 8).cast(
                    "decimal(20,8)"
                )
            ).cast("double")
            / F.max("n")
            * F.max("n")
            / F.max("n"),
            6,
        ).alias("expected_class_size_norm"),
    )


@query(
    "q378_corpus_bleu",
    oracle="""
WITH pairs AS (
  SELECT CAST(a.doc_id // 2 AS BIGINT) AS pair_id,
         string_split(a.text, ' ') AS cw, string_split(b.text, ' ') AS rw
  FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
  WHERE a.doc_id % 2 = 0
),
lens AS (
  SELECT CAST(SUM(len(cw)) AS BIGINT) AS c_len,
         CAST(SUM(len(rw)) AS BIGINT) AS r_len,
         CAST(COUNT(*) AS BIGINT) AS n_pairs
  FROM pairs
),
cg AS (
  SELECT pair_id, n, gram, COUNT(*) AS tc FROM (
    SELECT pair_id, 1 AS n, unnest(cw) AS gram FROM pairs
    UNION ALL
    SELECT pair_id, 2,
           unnest(list_transform(range(CAST(len(cw) AS BIGINT) - 1),
                  i -> cw[i+1] || ' ' || cw[i+2]))
    FROM pairs WHERE len(cw) >= 2
  ) GROUP BY pair_id, n, gram
),
rg AS (
  SELECT pair_id, n, gram, COUNT(*) AS tr FROM (
    SELECT pair_id, 1 AS n, unnest(rw) AS gram FROM pairs
    UNION ALL
    SELECT pair_id, 2,
           unnest(list_transform(range(CAST(len(rw) AS BIGINT) - 1),
                  i -> rw[i+1] || ' ' || rw[i+2]))
    FROM pairs WHERE len(rw) >= 2
  ) GROUP BY pair_id, n, gram
),
clipped AS (
  SELECT cg.n,
         CAST(SUM(LEAST(cg.tc, COALESCE(rg.tr, 0))) AS BIGINT) AS num,
         CAST(SUM(cg.tc) AS BIGINT) AS den
  FROM cg LEFT JOIN rg ON rg.pair_id = cg.pair_id AND rg.n = cg.n
                       AND rg.gram = cg.gram
  GROUP BY cg.n
),
p AS (
  SELECT MAX(CASE WHEN n = 1 THEN num END) AS p1_num,
         MAX(CASE WHEN n = 1 THEN den END) AS p1_den,
         MAX(CASE WHEN n = 2 THEN num END) AS p2_num,
         MAX(CASE WHEN n = 2 THEN den END) AS p2_den
  FROM clipped
)
SELECT l.n_pairs, l.c_len, l.r_len, p.p1_num, p.p1_den, p.p2_num, p.p2_den,
       ROUND(LEAST(CAST(1.0 AS DOUBLE), exp(1.0 - l.r_len / CAST(l.c_len AS DOUBLE)))
             * exp(0.5 * (ln(p.p1_num / CAST(p.p1_den AS DOUBLE))
                          + ln(p.p2_num / CAST(p.p2_den AS DOUBLE)))), 6)
         AS bleu2
FROM lens l CROSS JOIN p
""",
)
def q378_corpus_bleu(spark, sf_dir):
    """CORPUS BLEU-2 (Papineni 2002 — the generation-eval staple every
    LLM data pipeline runs between model outputs and references;
    here adjacent doc pairs stand in for candidate/reference):
    clipped modified n-gram precisions for n=1,2 from per-pair
    min(candidate-count, reference-count) joins, corpus-level brevity
    penalty, geometric mean. Everything is exact BIGINT counts until
    the single output expression — the eval number is reproducible to
    the last ulp, not 'approximately 0.31'.

    Scale shape: two explode->count aggregates (map-side combinable)
    + one equi-join on (pair, n, gram); corpus totals are one
    broadcast row. The n-gram join is the same shape as q65's
    shingle join — linear, never all-pairs."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    a = docs.where(F.col("doc_id") % 2 == 0).select(
        F.expr("doc_id DIV 2").alias("pair_id"),
        F.split("text", " ").alias("cw"),
    )
    b = docs.select(
        F.expr("(doc_id - 1) DIV 2").alias("pair_id"),
        F.split("text", " ").alias("rw"),
        (F.col("doc_id") % 2).alias("par"),
    ).where(F.col("par") == 1).drop("par")
    pairs = a.join(b, "pair_id").transform(managed_persist)
    lens = pairs.agg(
        F.sum(F.size("cw")).cast("bigint").alias("c_len"),
        F.sum(F.size("rw")).cast("bigint").alias("r_len"),
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
    )

    def grams(col, out):
        uni = pairs.select(
            "pair_id", F.lit(1).alias("n"), F.explode(col).alias("gram")
        )
        bi = pairs.where(F.size(col) >= 2).select(
            "pair_id",
            F.lit(2).alias("n"),
            F.explode(
                F.expr(
                    f"transform(slice({out}, 1, size({out}) - 1),"
                    f" (x, i) -> concat(x, ' ', element_at({out}, i + 2)))"
                )
            ).alias("gram"),
        )
        return uni.unionByName(bi).groupBy("pair_id", "n", "gram").agg(
            F.count(F.lit(1)).alias("c")
        )

    cg = grams(F.col("cw"), "cw").withColumnRenamed("c", "tc")
    rg = grams(F.col("rw"), "rw").withColumnRenamed("c", "tr")
    clipped = (
        cg.join(rg, ["pair_id", "n", "gram"], "left")
        .groupBy("n")
        .agg(
            F.sum(F.least(F.col("tc"), F.coalesce(F.col("tr"), F.lit(0))))
            .cast("bigint")
            .alias("num"),
            F.sum("tc").cast("bigint").alias("den"),
        )
    )
    p = clipped.agg(
        F.max(F.when(F.col("n") == 1, F.col("num"))).alias("p1_num"),
        F.max(F.when(F.col("n") == 1, F.col("den"))).alias("p1_den"),
        F.max(F.when(F.col("n") == 2, F.col("num"))).alias("p2_num"),
        F.max(F.when(F.col("n") == 2, F.col("den"))).alias("p2_den"),
    )
    bp = F.least(
        F.lit(1.0), F.exp(1.0 - F.col("r_len") / F.col("c_len").cast("double"))
    )
    gm = F.exp(
        0.5
        * (
            F.log(F.col("p1_num") / F.col("p1_den").cast("double"))
            + F.log(F.col("p2_num") / F.col("p2_den").cast("double"))
        )
    )
    return lens.crossJoin(F.broadcast(p)).select(
        "n_pairs", "c_len", "r_len",
        "p1_num", "p1_den", "p2_num", "p2_den",
        F.round(bp * gm, 6).alias("bleu2"),
    )


_PII_EMAIL = "[a-z0-9]+@[a-z0-9]+\\.[a-z]+"
_PII_PHONE = "[0-9]{3}-[0-9]{3}-[0-9]{4}"
_PII_SSN = "[0-9]{3}-[0-9]{2}-[0-9]{4}"
_PII_IP = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"
_PII_SYNTH = (
    "text"
    " || CASE WHEN doc_id % 7 = 0 THEN ' u' || CAST(doc_id AS STRING)"
    "          || '@mail.com' ELSE '' END"
    " || CASE WHEN doc_id % 11 = 0 THEN ' 555-' "
    "          || lpad(CAST(doc_id % 1000 AS STRING), 3, '0') || '-'"
    "          || lpad(CAST(doc_id % 10000 AS STRING), 4, '0') ELSE '' END"
    " || CASE WHEN doc_id % 13 = 0 THEN ' ' "
    "          || lpad(CAST(doc_id % 1000 AS STRING), 3, '0') || '-'"
    "          || lpad(CAST(doc_id % 100 AS STRING), 2, '0') || '-'"
    "          || lpad(CAST(doc_id % 10000 AS STRING), 4, '0') ELSE '' END"
    " || CASE WHEN doc_id % 17 = 0 THEN ' 10.0.'"
    "          || CAST(doc_id % 256 AS STRING) || '.'"
    "          || CAST(doc_id % 100 AS STRING) ELSE '' END"
)


@query(
    "q380_pii_scan",
    oracle=f"""
WITH enriched AS (
  SELECT doc_id, source, {_PII_SYNTH} AS t FROM documents
),
scanned AS (
  SELECT source,
         len(regexp_extract_all(t, '{_PII_EMAIL}')) AS n_email,
         len(regexp_extract_all(t, '{_PII_PHONE}')) AS n_phone,
         len(regexp_extract_all(t, '{_PII_SSN}')) AS n_ssn,
         len(regexp_extract_all(t, '{_PII_IP}')) AS n_ip
  FROM enriched
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_email) AS BIGINT) AS emails,
       CAST(SUM(n_phone) AS BIGINT) AS phones,
       CAST(SUM(n_ssn) AS BIGINT) AS ssns,
       CAST(SUM(n_ip) AS BIGINT) AS ips,
       CAST(SUM(CASE WHEN n_email + n_phone + n_ssn + n_ip > 0
                     THEN 1 ELSE 0 END) AS BIGINT) AS docs_flagged,
       ROUND(SUM(CASE WHEN n_email + n_phone + n_ssn + n_ip > 0
                      THEN 1 ELSE 0 END) / CAST(COUNT(*) AS DOUBLE), 6)
         AS flagged_rate
FROM scanned GROUP BY source
""",
)
def q380_pii_scan(spark, sf_dir):
    """PII SCAN (the redaction-gate every LLM training corpus runs
    before release — emails / phone numbers / SSN-shaped ids / IPv4
    literals, counted per source with the flagged-document rate that
    decides whether a source needs scrubbing or dropping): pure
    scan-speed regex counting, no shuffle beyond the per-source
    aggregate. PII content is synthesized deterministically onto the
    corpus (key-derived suffixes) so both engines scan IDENTICAL text;
    the four patterns are RE2/Java-portable character classes (no
    lookaround), counts exact.

    Scale shape: one projection + regexp_count per pattern inside
    whole-stage codegen, then a map-side-combinable groupBy(source) —
    the canonical 100 TB scan job."""
    docs = load_table(spark, sf_dir, "documents")
    t = F.expr(_PII_SYNTH)
    scanned = docs.select(
        "source",
        F.regexp_count(t, F.lit(_PII_EMAIL)).alias("n_email"),
        F.regexp_count(t, F.lit(_PII_PHONE)).alias("n_phone"),
        F.regexp_count(t, F.lit(_PII_SSN)).alias("n_ssn"),
        F.regexp_count(t, F.lit(_PII_IP)).alias("n_ip"),
    )
    flagged = (
        F.col("n_email") + F.col("n_phone") + F.col("n_ssn") + F.col("n_ip") > 0
    )
    return scanned.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_email").cast("bigint").alias("emails"),
        F.sum("n_phone").cast("bigint").alias("phones"),
        F.sum("n_ssn").cast("bigint").alias("ssns"),
        F.sum("n_ip").cast("bigint").alias("ips"),
        F.sum(F.when(flagged, 1).otherwise(0)).cast("bigint").alias("docs_flagged"),
        F.round(
            F.sum(F.when(flagged, 1).otherwise(0)) / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("flagged_rate"),
    )


@query(
    "q384_tokenizer_fertility",
    oracle="""
WITH RECURSIVE pairs AS (
  SELECT unnest([substr(w, i, 2) for i in generate_series(1, length(w) - 1)]) AS pair
  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
  WHERE length(w) >= 2
),
mined AS (
  SELECT substr(pair, 1, 1) || '|' || substr(pair, 2, 1) AS pair,
         CAST(ROW_NUMBER() OVER (ORDER BY n DESC, pair) AS INT) AS prio
  FROM (SELECT pair, COUNT(*) AS n FROM pairs GROUP BY pair)
  QUALIFY prio <= 8
),
vocab AS (
  SELECT DISTINCT w FROM (
    SELECT unnest(string_split(text, ' ')) AS w FROM documents
  ) WHERE w <> ''
),
enc AS (
  -- merge-all-per-pass (GPT-2/HF semantics): wrap every symbol as
  -- \x1f sym \x1f (boundary \x1f\x1f between symbols), then one
  -- replace() of \x1f u \x1f\x1f v \x1f -> \x1f uv \x1f merges ALL
  -- greedy left-to-right non-overlapping occurrences of the chosen
  -- pair, exactly the kernel's per-pass step
  SELECT w, string_split(w, '') AS syms FROM vocab
  UNION ALL
  SELECT e.w,
    string_split(
      substr(m2.merged, 2, length(m2.merged) - 2), chr(31) || chr(31)
    ) AS syms
  FROM enc e,
  LATERAL (
    SELECT MIN(m.prio) AS best
    FROM unnest(generate_series(1, len(e.syms) - 1)) AS t(i)
    JOIN mined m ON m.pair = e.syms[i] || '|' || e.syms[i + 1]
  ) b,
  LATERAL (
    SELECT m.pair AS bp FROM mined m WHERE m.prio = b.best
  ) bp,
  LATERAL (
    SELECT replace(
      chr(31) || array_to_string(e.syms, chr(31) || chr(31)) || chr(31),
      chr(31) || replace(bp.bp, '|', chr(31) || chr(31)) || chr(31),
      chr(31) || replace(bp.bp, '|', '') || chr(31)
    ) AS merged
  ) m2
  WHERE b.best IS NOT NULL
),
final AS (
  SELECT w, len(syms) AS n_sym FROM enc e
  WHERE NOT EXISTS (
    SELECT 1 FROM unnest(generate_series(1, len(e.syms) - 1)) AS t(i)
    JOIN mined m ON m.pair = e.syms[i] || '|' || e.syms[i + 1]
  )
),
docw AS (
  SELECT doc_id, lang, w FROM (
    SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w FROM documents
  ) WHERE w <> ''
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(length(w)) AS BIGINT) AS n_chars,
       CAST(SUM(n_sym) AS BIGINT) AS n_tokens,
       ROUND(SUM(n_sym) / CAST(COUNT(*) AS DOUBLE), 6) AS fertility,
       ROUND(SUM(length(w)) / CAST(SUM(n_sym) AS DOUBLE), 6) AS chars_per_token
FROM docw JOIN final USING (w)
GROUP BY lang
""",
)
def q384_tokenizer_fertility(spark, sf_dir):
    """TOKENIZER FERTILITY BY LANGUAGE (tokens per word and chars per
    token after BPE — the number multilingual-tokenizer audits grade:
    high-fertility languages pay more sequence length per word, the
    classic equity metric tokenizer changes are judged on): q147's
    value-proven mine-then-encode machinery (top-8 corpus merges,
    iterative merge kernel, recursive-SQL replay oracle) aggregated
    per language instead of per document.

    Scale shape: the encode runs on the DISTINCT word vocabulary (the
    q147 trick — tokens per unique word, then a broadcast join back to
    the exploded corpus), so the kernel cost is vocabulary-sized, not
    corpus-sized; the fertility aggregate is map-side combinable."""
    from pyspark.sql import Window as W

    from variantcalling_spark.operators.kernels import apply_bpe_merges

    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(F.explode(F.split("text", " ")).alias("w")).where(
        F.length("w") >= 2
    )
    pair_counts = (
        words.select(
            F.explode(
                F.expr("transform(sequence(1, length(w) - 1), i -> substr(w, i, 2))")
            ).alias("pair")
        )
        .groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    top = (
        pair_counts.withColumn(
            "prio", F.row_number().over(W.orderBy(F.col("n").desc(), "pair"))
        )
        .where(F.col("prio") <= 8)
        .orderBy("prio")
        .collect()
    )
    merges = [(r.pair[0], r.pair[1]) for r in top]
    per_doc = apply_bpe_merges(docs, merges)
    langs = docs.select("doc_id", "lang")
    chars = docs.select(
        "doc_id",
        F.length(F.regexp_replace("text", " ", "")).cast("bigint").alias("n_chars"),
    )
    return (
        per_doc.where(F.col("n_words") > 0)
        .join(chars, "doc_id")
        .join(langs, "doc_id")
        .groupBy("lang")
        .agg(
            F.sum("n_words").cast("bigint").alias("n_words"),
            F.sum("n_chars").cast("bigint").alias("n_chars"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
            F.round(
                F.sum("n_tokens") / F.sum("n_words").cast("double"), 6
            ).alias("fertility"),
            F.round(
                F.sum("n_chars") / F.sum("n_tokens").cast("double"), 6
            ).alias("chars_per_token"),
        )
    )


_UNIMAX_EPOCH_CAP = 2
_UNIMAX_BUDGET_FRAC_NUM, _UNIMAX_BUDGET_FRAC_DEN = 3, 2  # B = 1.5x corpus


@query(
    "q385_unimax_allocation",
    oracle=f"""
WITH src AS (
  SELECT source, CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
),
tot AS (
  SELECT CAST(SUM(n_tokens) * {_UNIMAX_BUDGET_FRAC_NUM}
              // {_UNIMAX_BUDGET_FRAC_DEN} AS BIGINT) AS budget,
         CAST(COUNT(*) AS BIGINT) AS k
  FROM src
),
s AS (
  SELECT source, n_tokens,
         CAST(n_tokens * {_UNIMAX_EPOCH_CAP} AS BIGINT) AS cap,
         ROW_NUMBER() OVER (ORDER BY n_tokens * {_UNIMAX_EPOCH_CAP}, source) AS i,
         CAST(SUM(n_tokens * {_UNIMAX_EPOCH_CAP}) OVER (
           ORDER BY n_tokens * {_UNIMAX_EPOCH_CAP}, source
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS presum
  FROM src
),
cut AS (
  SELECT COALESCE(MAX(CASE WHEN cap * (k - i + 1) <= budget - presum + cap
                           THEN i END), 0) AS m
  FROM s CROSS JOIN tot
),
capped AS (
  SELECT COALESCE(MAX(CASE WHEN i = m THEN presum END), 0) AS capped_sum
  FROM s CROSS JOIN cut
)
SELECT source, n_tokens, cap,
       ROUND(CASE WHEN i <= m THEN CAST(cap AS DOUBLE)
                  ELSE (budget - capped_sum) / CAST(k - m AS DOUBLE) END, 6)
         AS allocation,
       ROUND(CASE WHEN i <= m THEN CAST(cap AS DOUBLE)
                  ELSE (budget - capped_sum) / CAST(k - m AS DOUBLE) END
             / n_tokens, 6) AS epochs
FROM s CROSS JOIN tot CROSS JOIN cut CROSS JOIN capped
""",
)
def q385_unimax_allocation(spark, sf_dir):
    """UNIMAX TOKEN-BUDGET ALLOCATION (Chung et al. 2023 — the
    multilingual/multi-source mixing rule: spread the training budget
    as uniformly as possible across sources, but never take more than
    c epochs from any one source; the principled successor to
    temperature sampling q300 and the consumer of q115's mixture
    weights): per-source token counts, caps c*N_s, and the exact
    waterfilling split — capped sources below the water level take
    their cap, the rest share the remainder equally.

    The sequential greedy has a CLOSED FORM over capacity-sorted
    sources: cutoff m = max i with cap_i * (k-i+1) <= B - presum(i-1)
    (one prefix window over the SOURCE-bounded ledger), so nothing
    iterates. Integer token counts and one final IEEE division per
    row; budget = 1.5x corpus, cap = 2 epochs."""
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    src = docs.groupBy("source").agg(
        F.sum(F.size(F.split("text", " "))).cast("bigint").alias("n_tokens")
    )
    tot = src.agg(
        (
            F.sum("n_tokens") * _UNIMAX_BUDGET_FRAC_NUM
            / F.lit(_UNIMAX_BUDGET_FRAC_DEN)
        )
        .cast("bigint")
        .alias("budget"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
    )
    cap = (F.col("n_tokens") * _UNIMAX_EPOCH_CAP).cast("bigint")
    wo = W.orderBy(cap, "source")
    s = src.select(
        "source",
        "n_tokens",
        cap.alias("cap"),
        F.row_number().over(wo).alias("i"),
        F.sum(cap).over(wo.rowsBetween(W.unboundedPreceding, 0))
        .cast("bigint")
        .alias("presum"),
    ).crossJoin(F.broadcast(tot))
    cut = s.agg(
        F.coalesce(
            F.max(
                F.when(
                    F.col("cap") * (F.col("k") - F.col("i") + 1)
                    <= F.col("budget") - F.col("presum") + F.col("cap"),
                    F.col("i"),
                )
            ),
            F.lit(0),
        ).alias("m")
    )
    s2 = s.crossJoin(F.broadcast(cut))
    capped = s2.agg(
        F.coalesce(
            F.max(F.when(F.col("i") == F.col("m"), F.col("presum"))), F.lit(0)
        ).alias("capped_sum")
    )
    s3 = s2.crossJoin(F.broadcast(capped))
    alloc = F.when(F.col("i") <= F.col("m"), F.col("cap").cast("double")).otherwise(
        (F.col("budget") - F.col("capped_sum"))
        / (F.col("k") - F.col("m")).cast("double")
    )
    return s3.select(
        "source",
        "n_tokens",
        "cap",
        F.round(alloc, 6).alias("allocation"),
        F.round(alloc / F.col("n_tokens"), 6).alias("epochs"),
    )


@query(
    "q387_source_jackknife",
    oracle="""
WITH per_doc AS (
  SELECT source,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
  FROM documents
),
per_src AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_tokens) AS BIGINT) AS tok
  FROM per_doc GROUP BY source
),
tot AS (
  SELECT CAST(SUM(n_docs) AS BIGINT) AS n_all,
         CAST(SUM(tok) AS BIGINT) AS tok_all
  FROM per_src
)
SELECT source, n_docs, tok,
       ROUND(tok_all / CAST(n_all AS DOUBLE), 6) AS mean_all,
       ROUND((tok_all - tok) / CAST(n_all - n_docs AS DOUBLE), 6)
         AS mean_without,
       ROUND(tok_all / CAST(n_all AS DOUBLE)
             - (tok_all - tok) / CAST(n_all - n_docs AS DOUBLE), 6)
         AS influence
FROM per_src CROSS JOIN tot
""",
)
def q387_source_jackknife(spark, sf_dir):
    """LEAVE-ONE-SOURCE-OUT (jackknife) INFLUENCE on a corpus statistic
    (here mean tokens/doc — 'which source drags the corpus metric,
    and by how much?', the curation question before dropping or
    re-weighting a source; the grouped-influence sibling of q344's
    block-jackknife CI): per source, the corpus mean WITHOUT that
    source computed exactly from total-minus-source sums — no
    recomputation per fold, one aggregate + one broadcast row.

    Scale shape: the jackknife identity makes the k-fold recompute
    free (sum subtraction), so the cost is ONE map-side-combinable
    groupBy(source) regardless of source count — the pattern
    generalizes to any sum-decomposable statistic."""
    docs = load_table(spark, sf_dir, "documents")
    per_src = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.size(F.split("text", " "))).cast("bigint").alias("tok"),
    )
    tot = per_src.agg(
        F.sum("n_docs").cast("bigint").alias("n_all"),
        F.sum("tok").cast("bigint").alias("tok_all"),
    )
    mean_all = F.col("tok_all") / F.col("n_all").cast("double")
    mean_wo = (F.col("tok_all") - F.col("tok")) / (
        F.col("n_all") - F.col("n_docs")
    ).cast("double")
    return per_src.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "tok",
        F.round(mean_all, 6).alias("mean_all"),
        F.round(mean_wo, 6).alias("mean_without"),
        F.round(mean_all - mean_wo, 6).alias("influence"),
    )


_DELTA_TOPK = 30


@query(
    "q390_burrows_delta",
    oracle=f"""
WITH toks AS (
  SELECT source, unnest(string_split(text, ' ')) AS w FROM documents
),
tokc AS (SELECT source, w, COUNT(*) AS c FROM toks WHERE w <> '' GROUP BY source, w),
src_tot AS (SELECT source, CAST(SUM(c) AS BIGINT) AS tot FROM tokc GROUP BY source),
topw AS (
  SELECT w FROM (SELECT w, SUM(c) AS n FROM tokc GROUP BY w)
  ORDER BY n DESC, w LIMIT {_DELTA_TOPK}
),
f AS (
  SELECT t.source, t.w,
         ROUND(COALESCE(c.c, 0) / CAST(t2.tot AS DOUBLE), 10) AS fr
  FROM (SELECT s.source, w.w FROM src_tot s CROSS JOIN topw w) t
  LEFT JOIN tokc c ON c.source = t.source AND c.w = t.w
  JOIN src_tot t2 ON t2.source = t.source
),
stats AS (
  SELECT w,
         CAST(SUM(CAST(fr AS DECIMAL(20,10))) AS DOUBLE) / COUNT(*) AS mu,
         sqrt(CAST(SUM(CAST(ROUND(fr * fr, 12) AS DECIMAL(24,12))) AS DOUBLE)
              / COUNT(*)
              - (CAST(SUM(CAST(fr AS DECIMAL(20,10))) AS DOUBLE) / COUNT(*))
                * (CAST(SUM(CAST(fr AS DECIMAL(20,10))) AS DOUBLE) / COUNT(*)))
           AS sd
  FROM f GROUP BY w
),
z AS (
  SELECT f.source, f.w,
         ROUND((f.fr - s.mu) / s.sd, 8) AS z
  FROM f JOIN stats s ON s.w = f.w WHERE s.sd > 0
),
pairs AS (
  SELECT a.source AS source_a, b.source AS source_b,
         CAST(SUM(CAST(ROUND(ABS(a.z - b.z), 8) AS DECIMAL(20,8))) AS DOUBLE)
           / COUNT(*) AS delta
  FROM z a JOIN z b ON a.w = b.w AND a.source < b.source
  GROUP BY a.source, b.source
)
SELECT source_a, source_b, ROUND(delta, 6) AS burrows_delta
FROM pairs
""",
)
def q390_burrows_delta(spark, sf_dir):
    """BURROWS' DELTA (stylometry's authorship-distance classic — mean
    |z-score| difference of the top-30 function-word
    frequencies; in a data pipeline, the source-fingerprint that flags
    re-labeled or laundered corpora beside q160's vocab overlap and
    q299's JSD drift): per-source relative frequencies of the corpus
    top words, per-word z-scores across sources, pairwise mean
    absolute z-difference.

    Scale discipline: ONE token aggregate; the top-word pick is a
    TakeOrdered heap-select; everything after lives on the (sources x
    top-30) grid. Frequencies snap at 10 dp, z at 8, and all
    cross-source sums are DECIMAL — order-independent on both
    engines."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("source", F.explode(F.split("text", " ")).alias("w"))
    tokc = (
        toks.where(F.col("w") != "")
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).alias("c"))
        .transform(managed_persist)
    )
    src_tot = tokc.groupBy("source").agg(F.sum("c").cast("bigint").alias("tot"))
    topw = (
        tokc.groupBy("w")
        .agg(F.sum("c").alias("n"))
        .orderBy(F.col("n").desc(), "w")
        .limit(_DELTA_TOPK)
        .select("w")
    )
    grid = src_tot.crossJoin(F.broadcast(topw))
    f = (
        grid.join(tokc, ["source", "w"], "left")
        .select(
            "source",
            "w",
            F.round(
                F.coalesce(F.col("c"), F.lit(0)) / F.col("tot").cast("double"), 10
            ).alias("fr"),
        )
        .transform(managed_persist)
    )
    mu = F.sum(F.col("fr").cast("decimal(20,10)")).cast("double") / F.count(
        F.lit(1)
    )
    ex2 = F.sum(
        F.round(F.col("fr") * F.col("fr"), 12).cast("decimal(24,12)")
    ).cast("double") / F.count(F.lit(1))
    stats = f.groupBy("w").agg(
        mu.alias("mu"), F.sqrt(ex2 - mu * mu).alias("sd")
    )
    z = (
        f.join(F.broadcast(stats), "w")
        .where(F.col("sd") > 0)
        .select(
            "source",
            "w",
            F.round((F.col("fr") - F.col("mu")) / F.col("sd"), 8).alias("z"),
        )
    )
    za = z.select(F.col("source").alias("source_a"), "w", F.col("z").alias("za"))
    zb = z.select(F.col("source").alias("source_b"), "w", F.col("z").alias("zb"))
    return (
        za.join(zb, "w")
        .where(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(
            F.round(
                F.sum(
                    F.round(F.abs(F.col("za") - F.col("zb")), 8).cast(
                        "decimal(20,8)"
                    )
                ).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("burrows_delta")
        )
    )


_OOV_SIZES = (1000, 2000, 4000, 8000)


@query(
    "q394_oov_curve",
    oracle=f"""
WITH toks AS (
  SELECT unnest(string_split(text, ' ')) AS w FROM documents
),
vc AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM toks WHERE w <> '' GROUP BY w
),
rk AS (
  SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, w) AS rnk FROM vc
),
tot AS (SELECT CAST(SUM(c) AS BIGINT) AS total FROM vc),
sizes AS (SELECT unnest([{", ".join(str(s) for s in _OOV_SIZES)}]) AS vocab_size)
SELECT s.vocab_size,
       CAST(SUM(CASE WHEN rk.rnk <= s.vocab_size THEN rk.c ELSE 0 END) AS BIGINT)
         AS covered_tokens,
       t.total AS total_tokens,
       ROUND(1.0 - SUM(CASE WHEN rk.rnk <= s.vocab_size THEN rk.c ELSE 0 END)
                   / CAST(t.total AS DOUBLE), 6) AS oov_rate
FROM sizes s CROSS JOIN tot t JOIN rk ON TRUE
GROUP BY s.vocab_size, t.total
""",
)
def q394_oov_curve(spark, sf_dir):
    """OOV-RATE vs VOCABULARY-SIZE CURVE (the tokenizer-design dial:
    how much of the token stream a top-k frequency vocabulary covers —
    what Heaps' law (q249) predicts asymptotically, measured exactly
    at the candidate sizes; feeds the q141 OOV audit and q384
    fertility): frequency-rank every word type, then coverage and OOV
    rate at each candidate vocab size.

    Scale discipline: the frequency rank uses `distributed_row_number`
    (count-bucket prefix + bucket-local window — the r7 operator), so
    a web-scale type vocabulary never single-partitions; coverage per
    size is one conditional aggregate over the ranked vocab."""
    from variantcalling_spark.operators.ordered import distributed_row_number

    docs = load_table(spark, sf_dir, "documents")
    vc = (
        docs.select(F.explode(F.split("text", " ")).alias("w"))
        .where(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    rk = distributed_row_number(
        vc,
        [F.col("c").desc(), F.col("w")],
        (-F.col("c")).cast("bigint"),
        out_col="rnk",
    ).transform(managed_persist)
    tot = rk.agg(F.sum("c").cast("bigint").alias("total"))
    sizes = spark.createDataFrame(
        [(s,) for s in _OOV_SIZES], "vocab_size int"
    )
    grid = rk.crossJoin(F.broadcast(sizes))
    return (
        grid.groupBy("vocab_size")
        .agg(
            F.sum(F.when(F.col("rnk") <= F.col("vocab_size"), F.col("c")).otherwise(0))
            .cast("bigint")
            .alias("covered_tokens")
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "vocab_size",
            "covered_tokens",
            F.col("total").alias("total_tokens"),
            F.round(
                1.0 - F.col("covered_tokens") / F.col("total").cast("double"), 6
            ).alias("oov_rate"),
        )
    )


_PACK_CAPS = (128, 256, 1024)


def _packing_efficiency_oracle_sql() -> str:
    packs = []
    rows = []
    for c in _PACK_CAPS:
        packs.append(f"""
pack{c} AS (
  SELECT shard, doc_id, n_tokens, rn, 0 AS bin_id, n_tokens AS used
  FROM t WHERE rn = 1
  UNION ALL
  SELECT t.shard, t.doc_id, t.n_tokens, t.rn,
         CASE WHEN p.used + t.n_tokens <= {c} THEN p.bin_id ELSE p.bin_id + 1 END,
         CASE WHEN p.used + t.n_tokens <= {c} THEN p.used + t.n_tokens ELSE t.n_tokens END
  FROM t JOIN pack{c} p ON t.shard = p.shard AND t.rn = p.rn + 1
),
s{c} AS (
  SELECT CAST({c} AS INT) AS capacity,
         CAST(COUNT(*) AS BIGINT) AS n_bins,
         CAST(SUM(tt) AS BIGINT) AS total_tokens
  FROM (SELECT shard, bin_id, SUM(n_tokens) AS tt
        FROM pack{c} GROUP BY shard, bin_id)
)""")
        rows.append(f"SELECT * FROM s{c}")
    final = "\nUNION ALL\n".join(rows)
    return f"""
WITH RECURSIVE t AS MATERIALIZED (
  SELECT CAST(doc_id % 8 AS INT) AS shard, doc_id,
         CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
         ROW_NUMBER() OVER (PARTITION BY doc_id % 8 ORDER BY doc_id) AS rn
  FROM documents
),{",".join(packs)}
SELECT capacity, n_bins, total_tokens,
       ROUND(total_tokens / (n_bins * CAST(capacity AS DOUBLE)), 6) AS fill_rate
FROM ({final})
"""


@query("q400_packing_efficiency", oracle=_packing_efficiency_oracle_sql())
def q400_packing_efficiency(spark, sf_dir):
    """CONTEXT-WINDOW PACKING EFFICIENCY CURVE (the sequence-length
    design dial: how much of each candidate context size the greedy
    whole-document packing actually fills — the waste fraction that
    decides the training context length, on top of q77's single-length
    layout): the q77 first-fit kernel swept over three capacities,
    emitting bins / packed tokens / fill rate per capacity.

    Scale shape: three independent kernel passes over the same
    (shard, doc, n_tokens) ledger (per-shard sequential, shards
    parallel — q77's shape); the oracle unrolls one packing recursion
    per capacity. Integer token counts; one rounded ratio."""
    from variantcalling_spark.operators.kernels import greedy_pack_documents

    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        (F.col("doc_id") % 8).cast("int").alias("shard"),
        "doc_id",
        F.size(F.split("text", " ")).alias("n_tokens"),
    ).transform(managed_persist)
    out = None
    for c in _PACK_CAPS:
        packed = greedy_pack_documents(t, capacity=c)
        bins = packed.groupBy("shard", "bin_id").agg(
            F.sum("n_tokens").alias("tt")
        )
        row = bins.agg(
            F.lit(c).cast("int").alias("capacity"),
            F.count(F.lit(1)).cast("bigint").alias("n_bins"),
            F.sum("tt").cast("bigint").alias("total_tokens"),
        )
        out = row if out is None else out.unionByName(row)
    return out.select(
        "capacity",
        "n_bins",
        "total_tokens",
        F.round(
            F.col("total_tokens")
            / (F.col("n_bins") * F.col("capacity").cast("double")),
            6,
        ).alias("fill_rate"),
    )


_LEX_ROWS = [
    ("omnis", 3), ("dolorem", 2), ("quaerat", 2), ("labore", 1), ("porro", 1),
]


@query(
    "q406_lexicon_filter",
    oracle=f"""
WITH lex(term, severity) AS (VALUES
  {", ".join(f"('{t}', {s})" for t, s in _LEX_ROWS)}
),
toks AS (
  SELECT doc_id, source, unnest(string_split(text, ' ')) AS w FROM documents
),
hits AS (
  SELECT t.doc_id, t.source,
         CAST(COUNT(*) AS BIGINT) AS n_hits,
         CAST(SUM(l.severity) AS BIGINT) AS severity_sum
  FROM toks t JOIN lex l ON l.term = t.w
  GROUP BY t.doc_id, t.source
),
docs AS (
  SELECT d.source, COALESCE(h.n_hits, 0) AS n_hits,
         COALESCE(h.severity_sum, 0) AS sev
  FROM documents d LEFT JOIN hits h ON h.doc_id = d.doc_id
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_hits) AS BIGINT) AS total_hits,
       CAST(SUM(sev) AS BIGINT) AS total_severity,
       CAST(SUM(CASE WHEN sev >= 3 THEN 1 ELSE 0 END) AS BIGINT)
         AS docs_blocked,
       ROUND(SUM(CASE WHEN sev >= 3 THEN 1 ELSE 0 END)
             / CAST(COUNT(*) AS DOUBLE), 6) AS block_rate
FROM docs GROUP BY source
""",
)
def q406_lexicon_filter(spark, sf_dir):
    """WEIGHTED-LEXICON CONTENT FILTER (the C4/Gopher 'bad words' gate,
    severity-weighted: exact token matches against a broadcast term
    list, per-doc severity sums, and the per-source block rate at a
    severity threshold — the lexicon sibling of q380's regex PII gate;
    in production the list is the deny-lexicon, here five corpus terms
    stand in): one broadcast-hash join on the token stream, counts and
    severities exact.

    Scale shape: the lexicon broadcasts (always tiny); matching rides
    the token explode at scan speed; the per-doc and per-source
    rollups are map-side combinable. Docs with zero hits stay in the
    denominator via the left join."""
    lex = spark.createDataFrame(_LEX_ROWS, "term string, severity int")
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "source", F.explode(F.split("text", " ")).alias("w")
    )
    hits = (
        toks.join(F.broadcast(lex), toks.w == lex.term)
        .groupBy("doc_id", "source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_hits"),
            F.sum("severity").cast("bigint").alias("severity_sum"),
        )
    )
    per_doc = docs.select("doc_id", "source").join(
        hits.drop("source"), "doc_id", "left"
    ).select(
        "source",
        F.coalesce(F.col("n_hits"), F.lit(0)).alias("n_hits"),
        F.coalesce(F.col("severity_sum"), F.lit(0)).alias("sev"),
    )
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_hits").cast("bigint").alias("total_hits"),
        F.sum("sev").cast("bigint").alias("total_severity"),
        F.sum(F.when(F.col("sev") >= 3, 1).otherwise(0))
        .cast("bigint")
        .alias("docs_blocked"),
        F.round(
            F.sum(F.when(F.col("sev") >= 3, 1).otherwise(0))
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("block_rate"),
    )


@query(
    "q409_l_diversity",
    oracle="""
WITH qi AS (
  SELECT lang, source,
         CAST(len(string_split(text, ' ')) // 20 AS BIGINT) AS len_bucket,
         doc_id % 4 AS sensitive
  FROM documents
),
classes AS (
  SELECT lang, source, len_bucket,
         CAST(COUNT(*) AS BIGINT) AS k,
         CAST(COUNT(DISTINCT sensitive) AS BIGINT) AS l
  FROM qi GROUP BY lang, source, len_bucket
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_classes,
       CAST(MIN(l) AS BIGINT) AS min_l,
       CAST(SUM(CASE WHEN l < 2 THEN 1 ELSE 0 END) AS BIGINT)
         AS classes_below_2,
       CAST(SUM(CASE WHEN l < 2 THEN k ELSE 0 END) AS BIGINT)
         AS rows_below_2,
       ROUND(SUM(CASE WHEN l < 2 THEN k ELSE 0 END)
             / CAST(SUM(k) AS DOUBLE), 6) AS at_risk_fraction
FROM classes
""",
)
def q409_l_diversity(spark, sf_dir):
    """L-DIVERSITY AUDIT (k-anonymity's necessary companion — q365
    bounds RE-IDENTIFICATION, but a class can be large yet carry ONE
    sensitive value, disclosing it to anyone who links in: l = the
    number of DISTINCT sensitive values per quasi-identifier class;
    classes with l < 2 leak even at high k): class count, minimum l,
    and the row fraction in homogeneous classes.

    Scale discipline: identical shape to q365 — one groupBy on the QI
    grid with a COUNT(DISTINCT sensitive) per class (bounded sensitive
    domain), then arithmetic over the class ledger."""
    docs = load_table(spark, sf_dir, "documents")
    qi = docs.select(
        "lang",
        "source",
        (F.size(F.split("text", " ")) / 20).cast("bigint").alias("len_bucket"),
        (F.col("doc_id") % 4).alias("sensitive"),
    )
    classes = qi.groupBy("lang", "source", "len_bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.count_distinct("sensitive").cast("bigint").alias("l"),
    )
    return classes.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_classes"),
        F.min("l").cast("bigint").alias("min_l"),
        F.sum(F.when(F.col("l") < 2, 1).otherwise(0))
        .cast("bigint")
        .alias("classes_below_2"),
        F.sum(F.when(F.col("l") < 2, F.col("k")).otherwise(0))
        .cast("bigint")
        .alias("rows_below_2"),
        F.round(
            F.sum(F.when(F.col("l") < 2, F.col("k")).otherwise(0))
            / F.sum("k").cast("double"),
            6,
        ).alias("at_risk_fraction"),
    )


@query(
    "q413_cramer_von_mises",
    oracle="""
WITH v AS (
  SELECT CAST(doc_id % 2 AS INT) AS grp,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS x
  FROM documents
),
h AS (
  SELECT x,
         CAST(SUM(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS BIGINT) AS h1,
         CAST(SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS h2
  FROM v GROUP BY x
),
tot AS (
  SELECT CAST(SUM(h1) AS BIGINT) AS n1, CAST(SUM(h2) AS BIGINT) AS n2 FROM h
),
cdf AS (
  SELECT x, h1, h2,
         CAST(SUM(h1) OVER w AS BIGINT) AS c1,
         CAST(SUM(h2) OVER w AS BIGINT) AS c2
  FROM h
  WINDOW w AS (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
terms AS (
  SELECT (h1 + h2) * (c1 * n2 - c2 * n1) * (c1 * n2 - c2 * n1) AS t
  FROM cdf CROSS JOIN tot
)
SELECT tot.n1, tot.n2,
       (SELECT CAST(SUM(t) AS BIGINT) FROM terms) AS u_num,
       ROUND((SELECT SUM(t) FROM terms)
             / (CAST(tot.n1 AS DOUBLE) * tot.n2 * (tot.n1 + tot.n2)
                * (tot.n1 + tot.n2)), 6) AS cvm_t
FROM tot
""",
)
def q413_cramer_von_mises(spark, sf_dir):
    """TWO-SAMPLE CRAMER-VON MISES statistic over the integer
    token-count domain (the whole-CDF distance beside q171's KS
    supremum and q347's Wasserstein transport: CvM integrates the
    SQUARED CDF gap over the pooled sample, so it sees spread-out
    small deviations KS misses): T = sum over pooled points of
    (F1 - F2)^2 / (n1 n2 (n1+n2)), with the gap kept as the exact
    integer cross-product c1*n2 - c2*n1 — u_num is a pure BIGINT and
    only the final normalization divides.

    Scale discipline: one value-domain histogram (map-side
    combinable), one cumulative window over the bounded integer
    domain, one exact integer aggregate."""
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    v = docs.select(
        (F.col("doc_id") % 2).cast("int").alias("grp"),
        F.size(F.split("text", " ")).cast("bigint").alias("x"),
    )
    h = v.groupBy("x").agg(
        F.sum(F.when(F.col("grp") == 0, 1).otherwise(0)).cast("bigint").alias("h1"),
        F.sum(F.when(F.col("grp") == 1, 1).otherwise(0)).cast("bigint").alias("h2"),
    )
    tot = h.agg(
        F.sum("h1").cast("bigint").alias("n1"),
        F.sum("h2").cast("bigint").alias("n2"),
    )
    w = W.orderBy("x").rowsBetween(W.unboundedPreceding, 0)
    cdf = h.select(
        "h1",
        "h2",
        F.sum("h1").over(w).cast("bigint").alias("c1"),
        F.sum("h2").over(w).cast("bigint").alias("c2"),
    )
    gap = F.col("c1") * F.col("n2") - F.col("c2") * F.col("n1")
    terms = cdf.crossJoin(F.broadcast(tot)).select(
        ((F.col("h1") + F.col("h2")) * gap * gap).alias("t"),
        "n1",
        "n2",
    )
    return terms.groupBy("n1", "n2").agg(
        F.sum("t").cast("bigint").alias("u_num"),
        F.round(
            F.sum("t")
            / (
                F.col("n1").cast("double")
                * F.col("n2")
                * (F.col("n1") + F.col("n2"))
                * (F.col("n1") + F.col("n2"))
            ),
            6,
        ).alias("cvm_t"),
    )


_RLT_CAP = 32  # token cap per side: the DP is O(n*m) per pair


def _rouge_l_tokens_oracle_sql() -> str:
    """Token-level LCS as the q379 wavefront recursive CTE with
    LIST-ELEMENT equality instead of substr: cell (i, j=d+1-i) is
    max(diag + [a_i = b_j], up, left); boundaries 0."""
    val = """
      CASE WHEN i = 0 OR d + 1 - i = 0 THEN CAST(0 AS INT)
           ELSE GREATEST(
             prev[CAST(i - GREATEST(0, d - 1 - m) AS INT)]
               + CASE WHEN a[CAST(i AS INT)] = b[CAST(d + 1 - i AS INT)]
                      THEN 1 ELSE 0 END,
             cur[CAST(i - GREATEST(0, d - m) AS INT)],
             cur[CAST(i + 1 - GREATEST(0, d - m) AS INT)])
      END"""
    return f"""
WITH RECURSIVE toks AS (
  SELECT doc_id, (string_split(text, ' '))[1:{_RLT_CAP}] AS tk
  FROM documents
),
pairs AS (
  SELECT ea.doc_id // 2 AS pair_id, ea.tk AS a, eb.tk AS b,
         CAST(len(ea.tk) AS INT) AS n, CAST(len(eb.tk) AS INT) AS m
  FROM toks ea JOIN toks eb ON eb.doc_id = ea.doc_id + 1
  WHERE ea.doc_id % 2 = 0
),
rec AS (
  SELECT pair_id, a, b, n, m, 0 AS d,
         [CAST(0 AS INT)] AS cur, CAST(NULL AS INT[]) AS prev
  FROM pairs
  UNION ALL
  SELECT pair_id, a, b, n, m, d + 1,
         list_transform(generate_series(GREATEST(0, d + 1 - m), LEAST(n, d + 1)),
                        i -> {val}) AS cur,
         cur AS prev
  FROM rec WHERE d < n + m
)
SELECT pair_id, n, m,
       cur[1] AS lcs_len,
       ROUND(CASE WHEN cur[1] = 0 THEN 0.0 ELSE
         2.0 * (cur[1] / CAST(n AS DOUBLE)) * (cur[1] / CAST(m AS DOUBLE))
         / ((cur[1] / CAST(n AS DOUBLE)) + (cur[1] / CAST(m AS DOUBLE))) END, 6)
         AS rouge_l_f
FROM rec WHERE d = n + m
"""


@query("q423_rouge_l_tokens", oracle=_rouge_l_tokens_oracle_sql())
def q423_rouge_l_tokens(spark, sf_dir):
    """TOKEN-LEVEL ROUGE-L (the r7 ROADMAP lead "BLEU/ROUGE over token
    sequences instead of DNA chars" — q378's BLEU is already
    token-level; this closes the ROUGE side with the same adjacent-doc
    candidate/reference pairing): LCS over the first {_RLT_CAP}
    whitespace tokens of each side via the ``lcs_lengths_tokens``
    Arrow kernel (per-pair factorized int codes, numpy wavefront —
    operators/kernels.py), F-measure from exact integer (lcs, n, m).

    The DuckDB oracle replays the identical DP as the q379 wavefront
    recursive CTE with list-element equality — every anti-diagonal a
    pure map over the previous two, so the whole token DP is engine-
    exact, not 'approximately equal'. Scale shape: per-pair independent
    Arrow batches (the q219/q379 kernel family); pairing is a 1-shift
    self-join, linear in corpus size."""
    from variantcalling_spark.operators.kernels import lcs_lengths_tokens

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = docs.select(
        "doc_id", F.slice(F.split("text", " "), 1, _RLT_CAP).alias("tk")
    )
    a = toks.where(F.col("doc_id") % 2 == 0).select(
        F.expr("doc_id DIV 2").alias("pair_id"), F.col("tk").alias("a")
    )
    b = toks.select(
        F.expr("(doc_id - 1) DIV 2").alias("pair_id"),
        F.col("tk").alias("b"),
        (F.col("doc_id") % 2).alias("par"),
    ).where(F.col("par") == 1).drop("par")
    pairs = a.join(b, "pair_id")
    scored = lcs_lengths_tokens(pairs)
    l = F.col("lcs_len")
    p = l / F.col("n").cast("double")
    r = l / F.col("m").cast("double")
    return scored.select(
        "pair_id",
        "n",
        "m",
        "lcs_len",
        F.round(
            F.when(l == 0, F.lit(0.0)).otherwise(2.0 * p * r / (p + r)), 6
        ).alias("rouge_l_f"),
    )


_STYL_TOPW = 30
_STYL_SIGW = 8
_STYL_MINTOK = 20
_STYL_THRESH = 0.5


@query(
    "q432_stylometric_clusters",
    oracle=f"""
WITH RECURSIVE toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
),
tokc AS (SELECT doc_id, w, COUNT(*) AS c FROM toks WHERE w <> '' GROUP BY doc_id, w),
doc_tot AS (
  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS tot FROM tokc
  GROUP BY doc_id HAVING SUM(c) >= {_STYL_MINTOK}
),
topw AS (
  SELECT w, ROW_NUMBER() OVER (ORDER BY n DESC, w) AS wr
  FROM (SELECT w, SUM(c) AS n FROM tokc GROUP BY w)
  ORDER BY n DESC, w LIMIT {_STYL_TOPW}
),
f AS (
  SELECT t.doc_id, t.w, t.wr,
         ROUND(COALESCE(c.c, 0) / CAST(t2.tot AS DOUBLE), 10) AS fr
  FROM (SELECT d.doc_id, w.w, w.wr FROM doc_tot d CROSS JOIN topw w) t
  LEFT JOIN tokc c ON c.doc_id = t.doc_id AND c.w = t.w
  JOIN doc_tot t2 ON t2.doc_id = t.doc_id
),
stats AS (
  SELECT w,
         CAST(SUM(CAST(fr AS DECIMAL(20,10))) AS DOUBLE) / COUNT(*) AS mu,
         sqrt(CAST(SUM(CAST(ROUND(fr * fr, 12) AS DECIMAL(24,12))) AS DOUBLE)
              / COUNT(*)
              - (CAST(SUM(CAST(fr AS DECIMAL(20,10))) AS DOUBLE) / COUNT(*))
                * (CAST(SUM(CAST(fr AS DECIMAL(20,10))) AS DOUBLE) / COUNT(*)))
           AS sd
  FROM f GROUP BY w
),
z AS (
  SELECT f.doc_id, f.w, f.wr, ROUND((f.fr - s.mu) / s.sd, 8) AS z
  FROM f JOIN stats s ON s.w = f.w WHERE s.sd > 0
),
sig AS (
  SELECT doc_id,
         CAST(SUM(CASE WHEN z > 0 THEN CAST(POW(2, wr - 1) AS BIGINT)
                       ELSE 0 END) AS BIGINT) AS b
  FROM z WHERE wr <= {_STYL_SIGW} GROUP BY doc_id
),
pairs AS (
  SELECT za.doc_id AS doc_a, zb.doc_id AS doc_b,
         CAST(SUM(CAST(ROUND(ABS(za.z - zb.z), 8) AS DECIMAL(20,8))) AS DOUBLE)
           / COUNT(*) AS delta
  FROM z za
  JOIN sig sa ON sa.doc_id = za.doc_id
  JOIN sig sb ON sa.b = sb.b
  JOIN z zb ON zb.doc_id = sb.doc_id AND zb.w = za.w
           AND za.doc_id < zb.doc_id
  GROUP BY za.doc_id, zb.doc_id
),
e AS (SELECT doc_a, doc_b FROM pairs WHERE delta <= {_STYL_THRESH}),
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
SELECT MIN(reach) AS cluster_id,
       CAST(COUNT(DISTINCT node) AS BIGINT) AS n_members
FROM (SELECT node, MIN(reach) AS reach FROM closure GROUP BY node) labeled
GROUP BY reach
""",
)
def q432_stylometric_clusters(spark, sf_dir):
    """BURROWS-DELTA CONTAMINATION CLUSTERS (the r7 ROADMAP lead
    "Burrows-delta-based contamination clusters": q390 grades SOURCES
    pairwise; this clusters DOCUMENTS whose function-word fingerprints
    agree — the stylometric dedup that catches same-template/same-
    author spam content n-gram dedup misses, because templates vary
    the content words but not the style profile): per-doc relative
    frequencies of the corpus top-{_STYL_TOPW} words, per-word
    z-scores, and Burrows' delta (mean |z_a − z_b|) — computed ONLY
    within stylometric blocks (equal sign-pattern of the top-
    {_STYL_SIGW} z-scores: the SimHash idea applied to the delta
    feature space, so discovery is a bucket equi-join, never
    all-pairs), then delta <= {_STYL_THRESH} edges folded into
    min-label connected components.

    Scale shape: token counts and z-stats are two combinable
    aggregates; the {_STYL_TOPW}-word axis broadcasts; candidate pairs
    are Σ bucket² like every banded family; components contract in
    O(log n) rounds (q98 machinery). Oracle replays the identical
    chain incl. a recursive-CTE closure."""
    from pyspark.sql import Window as W
    from variantcalling_spark.operators.dedup import connected_components

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = docs.select("doc_id", F.explode(F.split("text", " ")).alias("w")).where(
        F.col("w") != ""
    )
    tokc = toks.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("c"))
    tokc = tokc.transform(managed_persist)
    doc_tot = (
        tokc.groupBy("doc_id")
        .agg(F.sum("c").cast("bigint").alias("tot"))
        .where(F.col("tot") >= _STYL_MINTOK)
    )
    topw = (
        tokc.groupBy("w")
        .agg(F.sum("c").alias("n"))
        .orderBy(F.col("n").desc(), "w")
        .limit(_STYL_TOPW)
        .select(
            "w",
            F.row_number()
            .over(W.orderBy(F.col("n").desc(), "w"))
            .alias("wr"),
        )
    )
    f = (
        doc_tot.crossJoin(F.broadcast(topw))
        .join(tokc, ["doc_id", "w"], "left")
        .select(
            "doc_id",
            "w",
            "wr",
            F.round(
                F.coalesce("c", F.lit(0)) / F.col("tot").cast("double"), 10
            ).alias("fr"),
        )
        .transform(managed_persist)
    )
    fr = F.col("fr")
    mu = F.sum(fr.cast("decimal(20,10)")).cast("double") / F.count(F.lit(1))
    stats = f.groupBy("w").agg(
        mu.alias("mu"),
        F.sqrt(
            F.sum(F.round(fr * fr, 12).cast("decimal(24,12)")).cast("double")
            / F.count(F.lit(1))
            - mu * mu
        ).alias("sd"),
    )
    z = (
        f.join(stats, "w")
        .where(F.col("sd") > 0)
        .select(
            "doc_id",
            "w",
            "wr",
            F.round((fr - F.col("mu")) / F.col("sd"), 8).alias("z"),
        )
        .transform(managed_persist)
    )
    # ADAPTIVE block width (the q146 fixed-dial lesson, r8): 2^8 sign
    # buckets hold ~2 docs each at sf0.01 but ~200 at 10x, and in-bucket
    # pairs grow n^2 — the 10x run measured MINUTES before this dial.
    # Widen with the corpus: bits = clamp(log2(n/24), 8, 24); at
    # sf<=0.01 (n=500) this lands exactly on the oracle's pinned 8-bit
    # configuration, so the value oracle stays byte-valid there. True
    # same-style docs have IDENTICAL z-profiles and collide at any
    # width (the banding recall argument, stylometric edition).
    import math

    n_docs = doc_tot.count()
    sig_bits = min(24, max(_STYL_SIGW, math.ceil(math.log2(max(n_docs, 2) / 24))))
    sig = (
        z.where(F.col("wr") <= sig_bits)
        .groupBy("doc_id")
        .agg(
            F.sum(
                F.when(
                    F.col("z") > 0, F.pow(2.0, F.col("wr") - 1).cast("bigint")
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("b")
        )
    )
    # Delta over PROFILE ARRAYS, not per-word rows: every doc carries
    # the identical top-word set (f is the doc x top-word cross), so
    # the per-doc z-profile folds once into a w-sorted array and the
    # block join matches on the sign bucket alone — one row per
    # candidate pair instead of one per (pair, word). The former shape
    # shuffled |z| x 2 word rows into the (b, w) join and re-grouped
    # pair x word rows through a second Exchange; both are gone. The
    # decimal fold accumulates the same round(|za-zb|, 8) terms the
    # groupBy summed (decimal addition is order-free), and the
    # denominator is the array width = the per-pair join row count.
    zv = (
        z.groupBy("doc_id")
        .agg(F.array_sort(F.collect_list(F.struct("w", "z"))).alias("wz"))
        .select(
            "doc_id",
            F.expr("transform(wz, x -> x.z)").alias("zs"),
            F.size("wz").alias("nw"),
        )
    )
    za = zv.join(sig, "doc_id").select(
        F.col("doc_id").alias("doc_a"), F.col("zs").alias("zs_a"), "nw", "b"
    )
    zb = zv.join(sig, "doc_id").select(
        F.col("doc_id").alias("doc_b"), F.col("zs").alias("zs_b"), "b"
    )
    delta_sum = F.aggregate(
        F.zip_with(
            F.col("zs_a"),
            F.col("zs_b"),
            lambda x, y: F.round(F.abs(x - y), 8).cast("decimal(20,8)"),
        ),
        F.lit(0).cast("decimal(30,8)"),
        lambda acc, v: (acc + v).cast("decimal(30,8)"),
    )
    pairs = (
        za.join(zb, "b")
        .where(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            (delta_sum.cast("double") / F.col("nw")).alias("delta"),
        )
        .where(F.col("delta") <= _STYL_THRESH)
    )
    # loose stylometric similarity chains into DEEP near-corpus-wide
    # components at 10x; star contraction needs only O(log n) rounds
    # for them
    labels = connected_components(pairs)
    return labels.groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_members")
    ).select(F.col("label").alias("cluster_id"), "n_members")


_PBB_REPS = 40


@query(
    "q433_paired_bootstrap_bleu",
    oracle=f"""
WITH pairs AS (
  SELECT CAST(a.doc_id // 2 AS BIGINT) AS pair_id,
         string_split(a.text, ' ') AS cw,
         list_slice(string_split(a.text, ' '), 1,
                    CAST(CEIL(len(string_split(a.text, ' ')) / 2.0) AS BIGINT))
           AS hw,
         string_split(b.text, ' ') AS rw
  FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
  WHERE a.doc_id % 2 = 0
),
rg AS (
  SELECT pair_id, gram, COUNT(*) AS tr
  FROM (SELECT pair_id, unnest(rw) AS gram FROM pairs) GROUP BY pair_id, gram
),
ca AS (
  SELECT pair_id, gram, COUNT(*) AS tc
  FROM (SELECT pair_id, unnest(cw) AS gram FROM pairs) GROUP BY pair_id, gram
),
cb AS (
  SELECT pair_id, gram, COUNT(*) AS tc
  FROM (SELECT pair_id, unnest(hw) AS gram FROM pairs) GROUP BY pair_id, gram
),
ma AS (
  SELECT ca.pair_id, CAST(SUM(LEAST(ca.tc, COALESCE(rg.tr, 0))) AS BIGINT) AS m
  FROM ca LEFT JOIN rg ON rg.pair_id = ca.pair_id AND rg.gram = ca.gram
  GROUP BY ca.pair_id
),
mb AS (
  SELECT cb.pair_id, CAST(SUM(LEAST(cb.tc, COALESCE(rg.tr, 0))) AS BIGINT) AS m
  FROM cb LEFT JOIN rg ON rg.pair_id = cb.pair_id AND rg.gram = cb.gram
  GROUP BY cb.pair_id
),
st AS (
  SELECT p.pair_id,
         CAST(len(p.cw) AS BIGINT) AS la, CAST(len(p.hw) AS BIGINT) AS lb,
         CAST(len(p.rw) AS BIGINT) AS lr,
         COALESCE(ma.m, 0) AS m_a, COALESCE(mb.m, 0) AS m_b
  FROM pairs p
  LEFT JOIN ma ON ma.pair_id = p.pair_id
  LEFT JOIN mb ON mb.pair_id = p.pair_id
),
reps AS (SELECT unnest(generate_series(0, {_PBB_REPS - 1})) AS rep),
w AS (
  SELECT st.*, reps.rep,
         (list_reduce(list_transform(
            string_split(substr(md5(CAST(st.pair_id AS VARCHAR) || ':' || CAST(reps.rep AS VARCHAR)), 1, 8), ''),
            c -> CAST(CASE WHEN ascii(c) >= 97 THEN ascii(c) - 87
                           ELSE ascii(c) - 48 END AS BIGINT)),
            (a, x) -> a * 16 + x) % 2147483647) / 2147483647.0 AS uu
  FROM st CROSS JOIN reps
),
wk AS (
  SELECT *, CASE WHEN uu < {_POIS_T.split(', ')[0]} THEN 0
                 WHEN uu < {_POIS_T.split(', ')[1]} THEN 1
                 WHEN uu < {_POIS_T.split(', ')[2]} THEN 2
                 WHEN uu < {_POIS_T.split(', ')[3]} THEN 3
                 WHEN uu < {_POIS_T.split(', ')[4]} THEN 4
                 ELSE 5 END AS k
  FROM w
),
rsum AS (
  SELECT rep,
         CAST(SUM(k * la) AS BIGINT) AS sla, CAST(SUM(k * lb) AS BIGINT) AS slb,
         CAST(SUM(k * lr) AS BIGINT) AS slr,
         CAST(SUM(k * m_a) AS BIGINT) AS sma, CAST(SUM(k * m_b) AS BIGINT) AS smb
  FROM wk GROUP BY rep HAVING SUM(k * la) > 0 AND SUM(k * lb) > 0
),
deltas AS (
  SELECT rep,
         LEAST(CAST(1.0 AS DOUBLE), exp(1.0 - slr / CAST(sla AS DOUBLE)))
           * (sma / CAST(sla AS DOUBLE))
         - LEAST(CAST(1.0 AS DOUBLE), exp(1.0 - slr / CAST(slb AS DOUBLE)))
           * (smb / CAST(slb AS DOUBLE)) AS d
  FROM rsum
),
rkd AS (
  SELECT d, ROW_NUMBER() OVER (ORDER BY d, rep) AS rk, COUNT(*) OVER () AS nb
  FROM deltas
),
pt AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
         CAST(SUM(la) AS BIGINT) AS la, CAST(SUM(lb) AS BIGINT) AS lb,
         CAST(SUM(lr) AS BIGINT) AS lr,
         CAST(SUM(m_a) AS BIGINT) AS ma, CAST(SUM(m_b) AS BIGINT) AS mb
  FROM st
)
SELECT pt.n_pairs,
       ROUND(LEAST(CAST(1.0 AS DOUBLE), exp(1.0 - pt.lr / CAST(pt.la AS DOUBLE)))
             * (pt.ma / CAST(pt.la AS DOUBLE)), 6) AS bleu1_a,
       ROUND(LEAST(CAST(1.0 AS DOUBLE), exp(1.0 - pt.lr / CAST(pt.lb AS DOUBLE)))
             * (pt.mb / CAST(pt.lb AS DOUBLE)), 6) AS bleu1_b,
       CAST((SELECT COUNT(*) FROM deltas) AS BIGINT) AS n_reps,
       ROUND((SELECT COUNT(*) FILTER (WHERE d <= 0) FROM deltas)
             / CAST((SELECT COUNT(*) FROM deltas) AS DOUBLE), 6) AS p_b_not_worse,
       ROUND((SELECT MAX(CASE WHEN rk = GREATEST(CAST(CEIL(0.025 * nb) AS BIGINT), 1)
                              THEN d END) FROM rkd), 6) AS delta_ci_lo,
       ROUND((SELECT MAX(CASE WHEN rk = CAST(FLOOR(0.975 * nb) AS BIGINT)
                              THEN d END) FROM rkd), 6) AS delta_ci_hi
FROM pt
""",
)
def q433_paired_bootstrap_bleu(spark, sf_dir):
    """PAIRED POISSON-BOOTSTRAP SYSTEM COMPARISON on BLEU-1 (Koehn
    2004's paired bootstrap — THE significance test for 'is system A
    really better than system B on this eval set', here system A = the
    q378 candidate, system B = the same candidate truncated to its
    first half, against the shared references): per-pair sufficient
    statistics (clipped unigram matches + lengths) are exact BIGINTs;
    each bootstrap replicate reweights PAIRS by the q246 deterministic
    Poisson(1) draw — paired, because both systems share a replicate's
    weights — and the output is the corpus delta's bootstrap
    distribution: p(B not worse), 2.5/97.5 CI, alongside the point
    BLEU-1 of both arms.

    Scale shape: one gram join per arm (linear, the q65 shingle
    shape), then (pair x {_PBB_REPS}) partial aggregates — map-side
    combinable, no shuffled resamples anywhere (the Chamandy
    distributed-bootstrap trick, paired edition)."""
    from pyspark.sql import Window as W

    from variantcalling_spark.operators.dedup import (
        MERSENNE31,
        portable_string_hash,
    )

    t = [float(x) for x in _POIS_T.split(", ")]
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    a = docs.where(F.col("doc_id") % 2 == 0).select(
        F.expr("doc_id DIV 2").alias("pair_id"), F.split("text", " ").alias("cw")
    )
    b = docs.where(F.col("doc_id") % 2 == 1).select(
        F.expr("(doc_id - 1) DIV 2").alias("pair_id"),
        F.split("text", " ").alias("rw"),
    )
    pairs = (
        a.join(b, "pair_id")
        .select(
            "pair_id",
            "cw",
            F.slice(
                F.col("cw"), 1, F.ceil(F.size("cw") / 2.0).cast("int")
            ).alias("hw"),
            "rw",
        )
        .transform(managed_persist)
    )

    def gramcount(col):
        return (
            pairs.select("pair_id", F.explode(col).alias("gram"))
            .groupBy("pair_id", "gram")
            .agg(F.count(F.lit(1)).alias("tc"))
        )

    rg = gramcount(F.col("rw")).withColumnRenamed("tc", "tr")

    def clipped(cg, alias):
        return (
            cg.join(rg, ["pair_id", "gram"], "left")
            .groupBy("pair_id")
            .agg(
                F.sum(F.least(F.col("tc"), F.coalesce(F.col("tr"), F.lit(0))))
                .cast("bigint")
                .alias(alias)
            )
        )

    st = (
        pairs.join(clipped(gramcount(F.col("cw")), "m_a"), "pair_id", "left")
        .join(clipped(gramcount(F.col("hw")), "m_b"), "pair_id", "left")
        .select(
            "pair_id",
            F.size("cw").cast("bigint").alias("la"),
            F.size("hw").cast("bigint").alias("lb"),
            F.size("rw").cast("bigint").alias("lr"),
            F.coalesce("m_a", F.lit(0)).alias("m_a"),
            F.coalesce("m_b", F.lit(0)).alias("m_b"),
        )
        .transform(managed_persist)
    )
    reps = spark.range(0, _PBB_REPS).select(F.col("id").alias("rep"))
    u = st.crossJoin(F.broadcast(reps)).select(
        "*",
        (
            portable_string_hash(
                F.concat_ws(
                    ":", F.col("pair_id").cast("string"), F.col("rep").cast("string")
                )
            )
            / F.lit(float(MERSENNE31))
        ).alias("uu"),
    )
    k = (
        F.when(F.col("uu") < t[0], 0)
        .when(F.col("uu") < t[1], 1)
        .when(F.col("uu") < t[2], 2)
        .when(F.col("uu") < t[3], 3)
        .when(F.col("uu") < t[4], 4)
        .otherwise(5)
    ).cast("bigint")
    rsum = (
        u.select("rep", k.alias("k"), "la", "lb", "lr", "m_a", "m_b")
        .groupBy("rep")
        .agg(
            F.sum(F.col("k") * F.col("la")).cast("bigint").alias("sla"),
            F.sum(F.col("k") * F.col("lb")).cast("bigint").alias("slb"),
            F.sum(F.col("k") * F.col("lr")).cast("bigint").alias("slr"),
            F.sum(F.col("k") * F.col("m_a")).cast("bigint").alias("sma"),
            F.sum(F.col("k") * F.col("m_b")).cast("bigint").alias("smb"),
        )
        .where((F.col("sla") > 0) & (F.col("slb") > 0))
    )

    def bleu1(sl, sm, slr):
        return F.least(
            F.lit(1.0), F.exp(1.0 - slr / sl.cast("double"))
        ) * (sm / sl.cast("double"))

    deltas = rsum.select(
        "rep",
        (
            bleu1(F.col("sla"), F.col("sma"), F.col("slr"))
            - bleu1(F.col("slb"), F.col("smb"), F.col("slr"))
        ).alias("d"),
    ).transform(managed_persist)
    rkd = deltas.select(
        "d",
        F.row_number().over(W.orderBy("d", "rep")).alias("rk"),
        F.count(F.lit(1)).over(W.partitionBy()).alias("nb"),
    )
    ci = rkd.agg(
        F.max(
            F.when(
                F.col("rk")
                == F.greatest(F.ceil(0.025 * F.col("nb")).cast("bigint"), F.lit(1)),
                F.col("d"),
            )
        ).alias("ci_lo"),
        F.max(
            F.when(
                F.col("rk") == F.floor(0.975 * F.col("nb")).cast("bigint"),
                F.col("d"),
            )
        ).alias("ci_hi"),
    )
    boot = deltas.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_reps"),
        F.round(
            F.sum(F.when(F.col("d") <= 0, 1).otherwise(0))
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("p_b_not_worse"),
    )
    pt = st.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.sum("la").cast("bigint").alias("tla"),
        F.sum("lb").cast("bigint").alias("tlb"),
        F.sum("lr").cast("bigint").alias("tlr"),
        F.sum("m_a").cast("bigint").alias("tma"),
        F.sum("m_b").cast("bigint").alias("tmb"),
    )
    return (
        pt.crossJoin(F.broadcast(boot))
        .crossJoin(F.broadcast(ci))
        .select(
            "n_pairs",
            F.round(bleu1(F.col("tla"), F.col("tma"), F.col("tlr")), 6).alias(
                "bleu1_a"
            ),
            F.round(bleu1(F.col("tlb"), F.col("tmb"), F.col("tlr")), 6).alias(
                "bleu1_b"
            ),
            "n_reps",
            "p_b_not_worse",
            F.round("ci_lo", 6).alias("delta_ci_lo"),
            F.round("ci_hi", 6).alias("delta_ci_hi"),
        )
    )


@query(
    "q445_fightin_words",
    oracle="""
WITH toks AS (
  SELECT source, unnest(string_split(text, ' ')) AS w FROM documents
),
tc AS (SELECT source, w, CAST(COUNT(*) AS BIGINT) AS y
       FROM toks WHERE w <> '' GROUP BY source, w),
corpus AS (SELECT w, CAST(SUM(y) AS BIGINT) AS yw FROM tc GROUP BY w),
vocab AS (SELECT CAST(COUNT(*) AS BIGINT) AS v FROM corpus),
n_i AS (SELECT source, CAST(SUM(y) AS BIGINT) AS n FROM tc GROUP BY source),
n_all AS (SELECT CAST(SUM(y) AS BIGINT) AS n FROM tc),
z AS (
  SELECT tc.source, tc.w, tc.y, c.yw, ni.n AS n_i,
         ROUND((ln((tc.y + 1.0) / (ni.n + v.v - tc.y - 1.0))
                - ln((c.yw + 1.0) / (na.n + v.v - c.yw - 1.0)))
               / sqrt(1.0 / (tc.y + 1.0) + 1.0 / (c.yw + 1.0)), 10) AS z
  FROM tc
  JOIN corpus c ON c.w = tc.w
  JOIN n_i ni ON ni.source = tc.source
  CROSS JOIN n_all na CROSS JOIN vocab v
),
rk AS (
  SELECT source, w, y, z,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY z DESC, w) AS rn
  FROM z
)
SELECT source, CAST(rn AS INT) AS rnk, w AS word,
       CAST(y AS BIGINT) AS n_in_source, ROUND(z, 6) AS zeta
FROM rk WHERE rn <= 3
""",
)
def q445_fightin_words(spark, sf_dir):
    """DISTINCTIVE TERMS per source via Dirichlet-smoothed log-odds
    z-scores (Monroe/Colaresi/Quinn "Fightin' Words" — the
    statistically-grounded alternative to q243's c-TF-IDF: raw tf-idf
    over-ranks rare words; the informative-Dirichlet z divides the
    log-odds delta by its posterior variance, so high-zeta words are
    distinctive AND well-attested): uniform +1 prior over the corpus
    vocabulary, delta = smoothed log-odds in source minus corpus,
    z = delta/sqrt(1/(y_wi+1) + 1/(y_w+1)); top-3 per source by
    (z DESC, word).

    Scale shape: two combinable count aggregates, a broadcast of the
    per-source totals, and a per-source top-k window — the q19 argmax
    family. z is snapped to 10dp BEFORE ranking so the order is
    engine-exact even at ties."""
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("source", F.explode(F.split("text", " ")).alias("w")).where(
        F.col("w") != ""
    )
    tc = toks.groupBy("source", "w").agg(
        F.count(F.lit(1)).cast("bigint").alias("y")
    ).transform(managed_persist)
    corpus = tc.groupBy("w").agg(F.sum("y").cast("bigint").alias("yw"))
    vocab = corpus.agg(F.count(F.lit(1)).cast("bigint").alias("v"))
    n_i = tc.groupBy("source").agg(F.sum("y").cast("bigint").alias("n_i"))
    n_all = tc.agg(F.sum("y").cast("bigint").alias("n_all"))
    y, yw, ni, na, v = (
        F.col("y"),
        F.col("yw"),
        F.col("n_i"),
        F.col("n_all"),
        F.col("v"),
    )
    z = (
        tc.join(corpus, "w")
        .join(F.broadcast(n_i), "source")
        .crossJoin(F.broadcast(n_all))
        .crossJoin(F.broadcast(vocab))
        .select(
            "source",
            "w",
            "y",
            F.round(
                (
                    F.log((y + 1.0) / (ni + v - y - 1.0))
                    - F.log((yw + 1.0) / (na + v - yw - 1.0))
                )
                / F.sqrt(1.0 / (y + 1.0) + 1.0 / (yw + 1.0)),
                10,
            ).alias("z"),
        )
    )
    rk = z.select(
        "source",
        "w",
        "y",
        "z",
        F.row_number()
        .over(W.partitionBy("source").orderBy(F.col("z").desc(), "w"))
        .alias("rn"),
    ).where(F.col("rn") <= 3)
    return rk.select(
        "source",
        F.col("rn").cast("int").alias("rnk"),
        F.col("w").alias("word"),
        F.col("y").cast("bigint").alias("n_in_source"),
        F.round("z", 6).alias("zeta"),
    )


@query(
    "q468_readability",
    oracle="""
WITH d AS (
  SELECT doc_id, source, text,
         len(string_split(text, ' ')) AS n_words,
         GREATEST(len(string_split(text, '.')) - 1, 1) AS n_sents
  FROM documents WHERE text <> ''
),
syl AS (
  SELECT doc_id, source, n_words, n_sents,
         GREATEST(len(regexp_split_to_array(lower(text), '[aeiouy]+')) - 1,
                  n_words) AS n_syll
  FROM d
),
scored AS (
  SELECT source, n_words, n_sents, n_syll,
         ROUND(206.835 - 1.015 * (n_words / CAST(n_sents AS DOUBLE))
               - 84.6 * (n_syll / CAST(n_words AS DOUBLE)), 8) AS fre
  FROM syl WHERE n_words > 0
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_words) AS BIGINT) AS n_words,
       ROUND(CAST(SUM(CAST(fre AS DECIMAL(20,8))) AS DOUBLE) / COUNT(*), 6)
         AS mean_flesch,
       CAST(SUM(CASE WHEN fre < 30 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_hard_docs
FROM scored GROUP BY source
""",
)
def q468_readability(spark, sf_dir):
    """FLESCH READING-EASE per source (the readability face of the
    quality-scoring family — q62 gates on length/punct/stopword
    ratios; readability adds the sentence/syllable structure axis that
    separates fluent prose from keyword soup): words by whitespace,
    sentences by '.' (floored at 1), syllables by the vowel-GROUP
    heuristic (runs of [aeiouy], floored at one per word), FRE =
    206.835 − 1.015·(words/sentence) − 84.6·(syllables/word), per-doc
    scores 8dp-snapped into DECIMAL source means plus the 'hard'
    (FRE < 30) count.

    Scale shape: pure per-row string algebra (split/regexp lengths —
    JVM codegen, no explode) + one combinable aggregate."""
    docs = load_table(spark, sf_dir, "documents").where(F.col("text") != "")
    n_words = F.size(F.split("text", " "))
    n_sents = F.greatest(F.size(F.split("text", "\\.")) - 1, F.lit(1))
    n_syll = F.greatest(
        F.size(F.split(F.lower("text"), "[aeiouy]+")) - 1, n_words
    )
    scored = docs.select(
        "source",
        n_words.alias("n_words"),
        n_sents.alias("n_sents"),
        n_syll.alias("n_syll"),
    ).where(F.col("n_words") > 0).select(
        "source",
        "n_words",
        F.round(
            206.835
            - 1.015 * (F.col("n_words") / F.col("n_sents").cast("double"))
            - 84.6 * (F.col("n_syll") / F.col("n_words").cast("double")),
            8,
        ).alias("fre"),
    )
    return scored.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_words").cast("bigint").alias("n_words"),
        F.round(
            F.sum(F.col("fre").cast("decimal(20,8)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("mean_flesch"),
        F.sum(F.when(F.col("fre") < 30, 1).otherwise(0))
        .cast("bigint")
        .alias("n_hard_docs"),
    )


def _bootstrap_rouge_oracle_sql() -> str:
    from variantcalling_spark.operators.dedup import PORTABLE_HASH_SQL

    t = _POIS_T.split(", ")
    uu = PORTABLE_HASH_SQL.format(
        col="CAST(pair_id AS VARCHAR) || ':' || CAST(rep AS VARCHAR)"
    )
    # the q423 wavefront recursive-CTE LCS, run once over BOTH arms
    # (cell (i, j=d+1-i) = max(diag + [a_i = b_j], up, left))
    val = """
      CASE WHEN i = 0 OR d + 1 - i = 0 THEN CAST(0 AS INT)
           ELSE GREATEST(
             prev[CAST(i - GREATEST(0, d - 1 - m) AS INT)]
               + CASE WHEN a[CAST(i AS INT)] = b[CAST(d + 1 - i AS INT)]
                      THEN 1 ELSE 0 END,
             cur[CAST(i - GREATEST(0, d - m) AS INT)],
             cur[CAST(i + 1 - GREATEST(0, d - m) AS INT)])
      END"""
    return f"""
WITH RECURSIVE toks AS (
  SELECT doc_id, (string_split(text, ' '))[1:{_RLT_CAP}] AS tk
  FROM documents
),
cand AS (
  SELECT ea.doc_id // 2 AS pair_id, ea.tk AS ca, eb.tk AS rw
  FROM toks ea JOIN toks eb ON eb.doc_id = ea.doc_id + 1
  WHERE ea.doc_id % 2 = 0
),
arms AS (
  SELECT pair_id * 2 AS uid, ca AS a, rw AS b,
         CAST(len(ca) AS INT) AS n, CAST(len(rw) AS INT) AS m
  FROM cand
  UNION ALL
  SELECT pair_id * 2 + 1 AS uid,
         list_slice(ca, 1, CAST(CEIL(len(ca) / 2.0) AS BIGINT)) AS a,
         rw AS b,
         CAST(len(list_slice(ca, 1, CAST(CEIL(len(ca) / 2.0) AS BIGINT))) AS INT)
           AS n,
         CAST(len(rw) AS INT) AS m
  FROM cand
),
rec AS (
  SELECT uid, a, b, n, m, 0 AS d,
         [CAST(0 AS INT)] AS cur, CAST(NULL AS INT[]) AS prev
  FROM arms
  UNION ALL
  SELECT uid, a, b, n, m, d + 1,
         list_transform(generate_series(GREATEST(0, d + 1 - m), LEAST(n, d + 1)),
                        i -> {val}) AS cur,
         cur AS prev
  FROM rec WHERE d < n + m
),
lcs AS (
  SELECT uid, n, m, cur[1] AS l FROM rec WHERE d = n + m
),
fs AS (
  SELECT uid // 2 AS pair_id, uid % 2 AS arm,
         CASE WHEN n + m = 0 THEN CAST(0 AS BIGINT)
              ELSE CAST(ROUND(2000000000.0 * l / (n + m)) AS BIGINT) END AS f_s
  FROM lcs
),
st AS MATERIALIZED (
  SELECT fa.pair_id, fa.f_s AS fa_s, fb.f_s AS fb_s,
         fa.f_s - fb.f_s AS d_s
  FROM (SELECT pair_id, f_s FROM fs WHERE arm = 0) fa
  JOIN (SELECT pair_id, f_s FROM fs WHERE arm = 1) fb USING (pair_id)
),
reps AS (SELECT unnest(generate_series(0, {_PBB_REPS - 1})) AS rep),
w AS (
  SELECT st.*, reps.rep, ({uu}) / 2147483647.0 AS uu
  FROM st CROSS JOIN reps
),
wk AS (
  SELECT *, CASE WHEN uu < {t[0]} THEN 0
                 WHEN uu < {t[1]} THEN 1
                 WHEN uu < {t[2]} THEN 2
                 WHEN uu < {t[3]} THEN 3
                 WHEN uu < {t[4]} THEN 4
                 ELSE 5 END AS k
  FROM w
),
rsum AS (
  SELECT rep, CAST(SUM(k) AS BIGINT) AS sk,
         CAST(SUM(k * d_s) AS BIGINT) AS sd
  FROM wk GROUP BY rep HAVING SUM(k) > 0
),
deltas AS (
  SELECT rep, sd / (CAST(sk AS DOUBLE) * 1000000000.0) AS d FROM rsum
),
rkd AS (
  SELECT d, ROW_NUMBER() OVER (ORDER BY d, rep) AS rk, COUNT(*) OVER () AS nb
  FROM deltas
),
pt AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
         CAST(SUM(fa_s) AS BIGINT) AS tfa, CAST(SUM(fb_s) AS BIGINT) AS tfb
  FROM st
)
SELECT pt.n_pairs,
       ROUND(pt.tfa / (CAST(pt.n_pairs AS DOUBLE) * 1000000000.0), 6)
         AS rouge_a,
       ROUND(pt.tfb / (CAST(pt.n_pairs AS DOUBLE) * 1000000000.0), 6)
         AS rouge_b,
       CAST((SELECT COUNT(*) FROM deltas) AS BIGINT) AS n_reps,
       ROUND((SELECT COUNT(*) FILTER (WHERE d <= 0) FROM deltas)
             / CAST((SELECT COUNT(*) FROM deltas) AS DOUBLE), 6)
         AS p_b_not_worse,
       ROUND((SELECT MAX(CASE WHEN rk = GREATEST(CAST(CEIL(0.025 * nb) AS BIGINT), 1)
                              THEN d END) FROM rkd), 6) + 0.0 AS delta_ci_lo,
       ROUND((SELECT MAX(CASE WHEN rk = CAST(FLOOR(0.975 * nb) AS BIGINT)
                              THEN d END) FROM rkd), 6) + 0.0 AS delta_ci_hi
FROM pt
"""


@query("q473_bootstrap_rouge_ci", oracle=_bootstrap_rouge_oracle_sql())
def q473_bootstrap_rouge_ci(spark, sf_dir):
    """PAIRED POISSON-BOOTSTRAP CI ON ROUGE-L (the r8 ROADMAP lead
    "bootstrap CIs over ROUGE — the q433 machinery generalizes": q433
    answers 'is A better than B on BLEU with significance'; this is
    the same Koehn-style paired bootstrap on the q423 token-level
    ROUGE-L, system A = the capped candidate, system B = its first
    half, against the shared reference): per-pair ROUGE-L F
    (= 2*lcs/(n+m)) is frozen to an exact integer-scaled BIGINT the
    moment it leaves the DP, so every replicate aggregate is a
    summation-order-independent integer sum — the q433 trick extended
    to a metric whose per-item score is intrinsically fractional.

    Scale shape: the DP is the per-pair-independent Arrow kernel run
    over BOTH arms in ONE pass (union with composite ids, one
    mapInPandas); replicates are (pair x {_PBB_REPS}) map-side
    combinable partial sums — no shuffled resamples (Chamandy's
    distributed bootstrap, paired edition)."""
    from pyspark.sql import Window as W

    from variantcalling_spark.operators.dedup import (
        MERSENNE31,
        portable_string_hash,
    )
    from variantcalling_spark.operators.kernels import lcs_lengths_tokens

    t = [float(x) for x in _POIS_T.split(", ")]
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = docs.select(
        "doc_id", F.slice(F.split("text", " "), 1, _RLT_CAP).alias("tk")
    )
    a = toks.where(F.col("doc_id") % 2 == 0).select(
        F.expr("doc_id DIV 2").alias("pair_id"), F.col("tk").alias("ca")
    )
    b = toks.select(
        F.expr("(doc_id - 1) DIV 2").alias("pair_id"),
        F.col("tk").alias("rw"),
        (F.col("doc_id") % 2).alias("par"),
    ).where(F.col("par") == 1).drop("par")
    cand = a.join(b, "pair_id")
    arms = cand.select(
        (F.col("pair_id") * 2).alias("pair_id"),
        F.col("ca").alias("a"),
        F.col("rw").alias("b"),
    ).unionByName(
        cand.select(
            (F.col("pair_id") * 2 + 1).alias("pair_id"),
            F.slice(
                F.col("ca"), 1, F.ceil(F.size("ca") / 2.0).cast("int")
            ).alias("a"),
            F.col("rw").alias("b"),
        )
    )
    lcs = lcs_lengths_tokens(arms)
    f_s = F.when(F.col("n") + F.col("m") == 0, F.lit(0)).otherwise(
        F.round(
            2000000000.0 * F.col("lcs_len") / (F.col("n") + F.col("m"))
        )
    ).cast("bigint")
    fs = lcs.select(
        F.expr("pair_id DIV 2").alias("pair_id"),
        (F.col("pair_id") % 2).alias("arm"),
        f_s.alias("f_s"),
    )
    st = (
        fs.where(F.col("arm") == 0)
        .select("pair_id", F.col("f_s").alias("fa_s"))
        .join(
            fs.where(F.col("arm") == 1).select(
                "pair_id", F.col("f_s").alias("fb_s")
            ),
            "pair_id",
        )
        .select(
            "pair_id",
            "fa_s",
            "fb_s",
            (F.col("fa_s") - F.col("fb_s")).cast("bigint").alias("d_s"),
        )
        .transform(managed_persist)
    )
    reps = spark.range(0, _PBB_REPS).select(F.col("id").alias("rep"))
    u = st.crossJoin(F.broadcast(reps)).select(
        "*",
        (
            portable_string_hash(
                F.concat_ws(
                    ":", F.col("pair_id").cast("string"), F.col("rep").cast("string")
                )
            )
            / F.lit(float(MERSENNE31))
        ).alias("uu"),
    )
    k = (
        F.when(F.col("uu") < t[0], 0)
        .when(F.col("uu") < t[1], 1)
        .when(F.col("uu") < t[2], 2)
        .when(F.col("uu") < t[3], 3)
        .when(F.col("uu") < t[4], 4)
        .otherwise(5)
    ).cast("bigint")
    rsum = (
        u.select("rep", k.alias("k"), "d_s")
        .groupBy("rep")
        .agg(
            F.sum("k").cast("bigint").alias("sk"),
            F.sum(F.col("k") * F.col("d_s")).cast("bigint").alias("sd"),
        )
        .where(F.col("sk") > 0)
    )
    deltas = rsum.select(
        "rep",
        (F.col("sd") / (F.col("sk").cast("double") * 1000000000.0)).alias("d"),
    ).transform(managed_persist)
    rkd = deltas.select(
        "d",
        F.row_number().over(W.orderBy("d", "rep")).alias("rk"),
        F.count(F.lit(1)).over(W.partitionBy()).alias("nb"),
    )
    ci = rkd.agg(
        F.max(
            F.when(
                F.col("rk")
                == F.greatest(F.ceil(0.025 * F.col("nb")).cast("bigint"), F.lit(1)),
                F.col("d"),
            )
        ).alias("ci_lo"),
        F.max(
            F.when(
                F.col("rk") == F.floor(0.975 * F.col("nb")).cast("bigint"),
                F.col("d"),
            )
        ).alias("ci_hi"),
    )
    boot = deltas.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_reps"),
        F.round(
            F.sum(F.when(F.col("d") <= 0, 1).otherwise(0))
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("p_b_not_worse"),
    )
    pt = st.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.sum("fa_s").cast("bigint").alias("tfa"),
        F.sum("fb_s").cast("bigint").alias("tfb"),
    )
    return (
        pt.crossJoin(F.broadcast(boot))
        .crossJoin(F.broadcast(ci))
        .select(
            "n_pairs",
            F.round(
                F.col("tfa") / (F.col("n_pairs").cast("double") * 1000000000.0), 6
            ).alias("rouge_a"),
            F.round(
                F.col("tfb") / (F.col("n_pairs").cast("double") * 1000000000.0), 6
            ).alias("rouge_b"),
            "n_reps",
            "p_b_not_worse",
            (F.round("ci_lo", 6) + 0.0).alias("delta_ci_lo"),
            (F.round("ci_hi", 6) + 0.0).alias("delta_ci_hi"),
        )
    )


@query(
    "q487_t_closeness",
    oracle="""
WITH qi AS (
  SELECT lang, source,
         CAST(len(string_split(text, ' ')) // 20 AS BIGINT) AS len_bucket,
         doc_id % 4 AS sensitive
  FROM documents
),
cls AS (
  SELECT lang, source, len_bucket,
         CAST(COUNT(*) AS BIGINT) AS k,
         CAST(SUM(CASE WHEN sensitive = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c0,
         CAST(SUM(CASE WHEN sensitive = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
         CAST(SUM(CASE WHEN sensitive = 2 THEN 1 ELSE 0 END) AS BIGINT) AS c2
  FROM qi GROUP BY lang, source, len_bucket
),
gtot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN sensitive = 0 THEN 1 ELSE 0 END) AS BIGINT) AS g0,
         CAST(SUM(CASE WHEN sensitive = 1 THEN 1 ELSE 0 END) AS BIGINT) AS g1,
         CAST(SUM(CASE WHEN sensitive = 2 THEN 1 ELSE 0 END) AS BIGINT) AS g2
  FROM qi
),
scored AS (
  SELECT k,
         (ABS(c0 * n - g0 * k)
          + ABS((c0 + c1) * n - (g0 + g1) * k)
          + ABS((c0 + c1 + c2) * n - (g0 + g1 + g2) * k))
           / (3.0 * k * n) AS t
  FROM cls, gtot
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_classes,
       ROUND(MAX(t), 6) AS max_t,
       CAST(SUM(CASE WHEN t > 0.2 THEN 1 ELSE 0 END) AS BIGINT)
         AS classes_above_02,
       CAST(SUM(CASE WHEN t > 0.2 THEN k ELSE 0 END) AS BIGINT)
         AS rows_above_02,
       ROUND(SUM(CASE WHEN t > 0.2 THEN k ELSE 0 END)
             / CAST(SUM(k) AS DOUBLE), 6) AS at_risk_fraction
FROM scored
""",
)
def q487_t_closeness(spark, sf_dir):
    """T-CLOSENESS AUDIT (Li/Li/Venkatasubramanian 2007 — the rung
    above q365 k-anonymity and q409 l-diversity: a class can be large
    AND diverse yet still leak because its sensitive DISTRIBUTION
    differs from the table's, e.g. 90/10 where the corpus is 25/75;
    t = EMD between class and global distributions over the ORDERED
    sensitive domain): per-class Earth Mover's Distance as the mean of
    absolute cumulative-fraction gaps, then the ledger — max t, classes
    and row mass above t = 0.2.

    Exactness: with m = 4 ordered values, EMD = (1/(m-1)) * Sigma_i
    |cum_c_i/k - cum_g_i/N|; every numerator is folded to the INTEGER
    |cum_c_i*N - cum_g_i*k| (products < 2^63) so the only float op is
    one final division of identical integers on both engines.

    Scale discipline: q365's shape — one groupBy on the QI grid with a
    fixed-domain conditional sum per sensitive value, one broadcastable
    global row, arithmetic over the class ledger."""
    docs = load_table(spark, sf_dir, "documents")
    qi = docs.select(
        "lang",
        "source",
        (F.size(F.split("text", " ")) / 20).cast("bigint").alias("len_bucket"),
        (F.col("doc_id") % 4).alias("sensitive"),
    )

    def csums(prefix):
        return [
            F.sum(F.when(F.col("sensitive") == j, 1).otherwise(0))
            .cast("bigint")
            .alias(f"{prefix}{j}")
            for j in range(3)
        ]

    cls = qi.groupBy("lang", "source", "len_bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("k"), *csums("c")
    )
    glob = qi.agg(F.count(F.lit(1)).cast("bigint").alias("n"), *csums("g"))
    cum_c = [F.col("c0"), F.col("c0") + F.col("c1"), F.col("c0") + F.col("c1") + F.col("c2")]
    cum_g = [F.col("g0"), F.col("g0") + F.col("g1"), F.col("g0") + F.col("g1") + F.col("g2")]
    emd_scaled = sum(
        F.abs(cc * F.col("n") - cg * F.col("k")) for cc, cg in zip(cum_c, cum_g)
    )
    scored = cls.crossJoin(F.broadcast(glob)).select(
        "k", (emd_scaled / (F.lit(3.0) * F.col("k") * F.col("n"))).alias("t")
    )
    return scored.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_classes"),
        F.round(F.max("t"), 6).alias("max_t"),
        F.sum(F.when(F.col("t") > 0.2, 1).otherwise(0))
        .cast("bigint")
        .alias("classes_above_02"),
        F.sum(F.when(F.col("t") > 0.2, F.col("k")).otherwise(0))
        .cast("bigint")
        .alias("rows_above_02"),
        F.round(
            F.sum(F.when(F.col("t") > 0.2, F.col("k")).otherwise(0))
            / F.sum("k").cast("double"),
            6,
        ).alias("at_risk_fraction"),
    )


@query(
    "q488_heaps_law_fit",
    oracle="""
WITH w AS (
  SELECT doc_id % 4 AS b, unnest(string_split(text, ' ')) AS word
  FROM documents
),
tok AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS nt FROM w GROUP BY b),
fw AS (SELECT word, MIN(b) AS fb FROM w GROUP BY word),
vj AS (SELECT fb, CAST(COUNT(*) AS BIGINT) AS nv FROM fw GROUP BY fb),
lv AS (
  SELECT j,
         (SELECT CAST(SUM(nt) AS BIGINT) FROM tok WHERE b < j) AS n_tokens,
         (SELECT CAST(SUM(nv) AS BIGINT) FROM vj WHERE fb < j) AS vocab
  FROM (VALUES (1), (2), (3), (4)) t(j)
),
pts AS (
  SELECT CAST(ROUND(ln(CAST(n_tokens AS DOUBLE)), 12) AS DECIMAL(28,12)) AS x,
         CAST(ROUND(ln(CAST(vocab AS DOUBLE)), 12) AS DECIMAL(28,12)) AS y,
         CAST(ROUND(ln(CAST(n_tokens AS DOUBLE)) * ln(CAST(n_tokens AS DOUBLE)), 12)
              AS DECIMAL(28,12)) AS xx,
         CAST(ROUND(ln(CAST(n_tokens AS DOUBLE)) * ln(CAST(vocab AS DOUBLE)), 12)
              AS DECIMAL(28,12)) AS xy,
         CAST(ROUND(ln(CAST(vocab AS DOUBLE)) * ln(CAST(vocab AS DOUBLE)), 12)
              AS DECIMAL(28,12)) AS yy
  FROM lv
),
s AS (
  SELECT COUNT(*) AS n,
         CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
         CAST(SUM(xx) AS DOUBLE) AS sxx, CAST(SUM(xy) AS DOUBLE) AS sxy,
         CAST(SUM(yy) AS DOUBLE) AS syy
  FROM pts
),
fit AS (
  SELECT n,
         (n * sxy - sx * sy) / (n * sxx - sx * sx) AS beta,
         (sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n AS icept,
         (n * sxy - sx * sy) * (n * sxy - sx * sy)
           / ((n * sxx - sx * sx) * (n * syy - sy * sy)) AS r2
  FROM s
),
full_p AS (
  SELECT n_tokens AS tokens_full, vocab AS vocab_full,
         ROUND(ln(CAST(n_tokens AS DOUBLE) * 100), 12) AS lx100
  FROM lv WHERE j = 4
)
SELECT CAST(fit.n AS BIGINT) AS n_points,
       full_p.tokens_full, full_p.vocab_full,
       ROUND(fit.beta, 6) AS heaps_beta,
       ROUND(fit.icept, 6) AS intercept_ln,
       ROUND(fit.r2, 6) AS r_squared,
       ROUND(fit.icept + fit.beta * full_p.lx100, 6) AS pred_ln_vocab_100x
FROM fit, full_p
""",
)
def q488_heaps_law_fit(spark, sf_dir):
    """HEAPS'-LAW SCALING FIT (vocabulary growth V ~ c * N^beta — the
    canonical data-scaling law a 100 TB corpus plan extrapolates from:
    how much NEW vocabulary/entropy does the next decade of data buy,
    and q362's dedup-saturation sibling for vocabulary): distinct-word
    count at 4 nested deterministic subsamples (doc_id % 4 < j), then
    closed-form log-log OLS for the exponent, intercept, and R^2, plus
    the log-scale prediction at 100x the corpus — the number the
    'will more data help' decision actually consumes.

    Exactness (the q168/q177 recipe): nested levels mean each point is
    a CUMULATIVE integer count (vocab via MIN(first-bucket) per word —
    one aggregate over the word relation, no per-level rescan);
    ln(exact integer) is the same double on both engines, each OLS
    term rounds to 12 places and sums as DECIMAL, predictions stay in
    LOG space so no exp() parity risk.

    Scale shape: one token scan + one groupBy word (the vocabulary
    relation) + a 4-row ledger; the fit is arithmetic on one row."""
    docs = load_table(spark, sf_dir, "documents")
    w = docs.select(
        (F.col("doc_id") % 4).alias("b"), F.explode(F.split("text", " ")).alias("word")
    )
    tok = w.groupBy("b").agg(F.count(F.lit(1)).cast("bigint").alias("nt"))
    fw = w.groupBy("word").agg(F.min("b").alias("fb"))
    vj = fw.groupBy("fb").agg(F.count(F.lit(1)).cast("bigint").alias("nv"))
    levels = spark.range(1, 5).select(F.col("id").alias("j"))
    lv = (
        levels.join(tok, tok.b < levels.j)
        .groupBy("j")
        .agg(F.sum("nt").alias("n_tokens"))
        .join(
            levels.join(vj, vj.fb < levels.j)
            .groupBy("j")
            .agg(F.sum("nv").alias("vocab")),
            "j",
        )
    )
    DEC = "decimal(28,12)"
    lx = F.log(F.col("n_tokens").cast("double"))
    ly = F.log(F.col("vocab").cast("double"))
    pts = lv.select(
        "j",
        "n_tokens",
        "vocab",
        F.round(lx, 12).cast(DEC).alias("x"),
        F.round(ly, 12).cast(DEC).alias("y"),
        F.round(lx * lx, 12).cast(DEC).alias("xx"),
        F.round(lx * ly, 12).cast(DEC).alias("xy"),
        F.round(ly * ly, 12).cast(DEC).alias("yy"),
    ).transform(managed_persist)
    s = pts.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum("xx").cast("double").alias("sxx"),
        F.sum("xy").cast("double").alias("sxy"),
        F.sum("yy").cast("double").alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, sxy, syy = F.col("sxx"), F.col("sxy"), F.col("syy")
    beta = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    icept = (sy - beta * sx) / n
    r2 = (n * sxy - sx * sy) * (n * sxy - sx * sy) / (
        (n * sxx - sx * sx) * (n * syy - sy * sy)
    )
    fit = s.select(
        n.cast("bigint").alias("n_points"),
        beta.alias("beta"),
        icept.alias("icept"),
        r2.alias("r2"),
    )
    full_p = pts.where(F.col("j") == 4).select(
        F.col("n_tokens").alias("tokens_full"),
        F.col("vocab").alias("vocab_full"),
        F.round(F.log(F.col("n_tokens").cast("double") * 100), 12).alias("lx100"),
    )
    return fit.crossJoin(F.broadcast(full_p)).select(
        "n_points",
        "tokens_full",
        "vocab_full",
        F.round(F.col("beta"), 6).alias("heaps_beta"),
        F.round(F.col("icept"), 6).alias("intercept_ln"),
        F.round(F.col("r2"), 6).alias("r_squared"),
        F.round(F.col("icept") + F.col("beta") * F.col("lx100"), 6).alias(
            "pred_ln_vocab_100x"
        ),
    )


@query(
    "q489_bleu_smoothing_variants",
    oracle="""
WITH pairs AS (
  SELECT CAST(a.doc_id // 2 AS BIGINT) AS pair_id,
         string_split(a.text, ' ') AS cw, string_split(b.text, ' ') AS rw
  FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
  WHERE a.doc_id % 2 = 0
),
cg AS (
  SELECT pair_id, n, gram, COUNT(*) AS tc FROM (
    SELECT pair_id, 1 AS n, unnest(cw) AS gram FROM pairs
    UNION ALL
    SELECT pair_id, 2,
           unnest(list_transform(range(CAST(len(cw) AS BIGINT) - 1),
                  i -> cw[i+1] || ' ' || cw[i+2]))
    FROM pairs WHERE len(cw) >= 2
  ) GROUP BY pair_id, n, gram
),
rg AS (
  SELECT pair_id, n, gram, COUNT(*) AS tr FROM (
    SELECT pair_id, 1 AS n, unnest(rw) AS gram FROM pairs
    UNION ALL
    SELECT pair_id, 2,
           unnest(list_transform(range(CAST(len(rw) AS BIGINT) - 1),
                  i -> rw[i+1] || ' ' || rw[i+2]))
    FROM pairs WHERE len(rw) >= 2
  ) GROUP BY pair_id, n, gram
),
pc AS (
  SELECT cg.pair_id,
         CAST(SUM(CASE WHEN cg.n = 1 THEN LEAST(cg.tc, COALESCE(rg.tr, 0)) ELSE 0 END) AS BIGINT) AS num1,
         CAST(SUM(CASE WHEN cg.n = 1 THEN cg.tc ELSE 0 END) AS BIGINT) AS den1,
         CAST(SUM(CASE WHEN cg.n = 2 THEN LEAST(cg.tc, COALESCE(rg.tr, 0)) ELSE 0 END) AS BIGINT) AS num2,
         CAST(SUM(CASE WHEN cg.n = 2 THEN cg.tc ELSE 0 END) AS BIGINT) AS den2
  FROM cg LEFT JOIN rg ON rg.pair_id = cg.pair_id AND rg.n = cg.n
                       AND rg.gram = cg.gram
  GROUP BY cg.pair_id
),
sb AS (
  SELECT p.pair_id,
         CASE WHEN len(p.cw) < len(p.rw)
              THEN exp(1.0 - len(p.rw) / CAST(len(p.cw) AS DOUBLE))
              ELSE 1.0 END AS bp,
         pc.num1, pc.den1, pc.num2, pc.den2
  FROM pairs p JOIN pc ON pc.pair_id = p.pair_id
),
scored AS (
  SELECT pair_id,
         CASE WHEN num1 > 0 AND num2 > 0
              THEN bp * exp(0.5 * (ln(num1 / CAST(den1 AS DOUBLE))
                                   + ln(num2 / CAST(den2 AS DOUBLE))))
              ELSE 0.0 END AS m0,
         bp * exp(0.5 * (
             ln((CASE WHEN num1 > 0 THEN num1 ELSE CAST(0.1 AS DOUBLE) END)
                / CAST(den1 AS DOUBLE))
           + ln((CASE WHEN num2 > 0 THEN num2 ELSE CAST(0.1 AS DOUBLE) END)
                / CAST(den2 AS DOUBLE)))) AS m1,
         CASE WHEN num1 > 0
              THEN bp * exp(0.5 * (ln(num1 / CAST(den1 AS DOUBLE))
                                   + ln((num2 + 1) / CAST(den2 + 1 AS DOUBLE))))
              ELSE 0.0 END AS m2,
         CASE WHEN num2 = 0 THEN 1 ELSE 0 END AS zero2
  FROM sb WHERE den2 >= 1
)
SELECT method, n_pairs, n_zero_bigram, mean_sbleu FROM (
  SELECT 'm0_none' AS method, CAST(COUNT(*) AS BIGINT) AS n_pairs,
         CAST(SUM(zero2) AS BIGINT) AS n_zero_bigram,
         ROUND(CAST(SUM(CAST(ROUND(m0, 9) AS DECIMAL(24,12))) AS DOUBLE)
               / COUNT(*), 6) AS mean_sbleu
  FROM scored
  UNION ALL
  SELECT 'm1_epsilon', CAST(COUNT(*) AS BIGINT), CAST(SUM(zero2) AS BIGINT),
         ROUND(CAST(SUM(CAST(ROUND(m1, 9) AS DECIMAL(24,12))) AS DOUBLE)
               / COUNT(*), 6)
  FROM scored
  UNION ALL
  SELECT 'm2_add_one', CAST(COUNT(*) AS BIGINT), CAST(SUM(zero2) AS BIGINT),
         ROUND(CAST(SUM(CAST(ROUND(m2, 9) AS DECIMAL(24,12))) AS DOUBLE)
               / COUNT(*), 6)
  FROM scored
)
""",
)
def q489_bleu_smoothing_variants(spark, sf_dir):
    """SENTENCE-BLEU SMOOTHING VARIANTS (Chen & Cherry, WMT 2014 — the
    corpus BLEU of q378 hides the zero-bigram problem: any sentence
    with no bigram match scores exactly 0 under the raw geometric
    mean, so rankings of short outputs are dominated by the smoothing
    CHOICE, not quality): per-pair BLEU-2 under method0 (none),
    method1 (epsilon=0.1 numerator floor), method2 (add-one on the
    bigram arm), each reduced to its corpus mean with the zero-bigram
    incidence reported alongside — the table that tells an eval
    pipeline how much of its score is smoothing artifact.

    Exactness: clipped counts stay BIGINT per pair; each sentence
    score is a closed-form expression of those integers (identical
    doubles both engines), snapped to 9 dp and summed as DECIMAL.

    Scale shape: q378's two explode->count aggregates and one (pair,
    n, gram) equi-join, then per-pair arithmetic — one extra ledger
    row per method, no extra scans."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    a = docs.where(F.col("doc_id") % 2 == 0).select(
        F.expr("doc_id DIV 2").alias("pair_id"), F.split("text", " ").alias("cw")
    )
    b = (
        docs.select(
            F.expr("(doc_id - 1) DIV 2").alias("pair_id"),
            F.split("text", " ").alias("rw"),
            (F.col("doc_id") % 2).alias("par"),
        )
        .where(F.col("par") == 1)
        .drop("par")
    )
    pairs = a.join(b, "pair_id").transform(managed_persist)

    def grams(col, out):
        uni = pairs.select(
            "pair_id", F.lit(1).alias("n"), F.explode(col).alias("gram")
        )
        bi = pairs.where(F.size(col) >= 2).select(
            "pair_id",
            F.lit(2).alias("n"),
            F.explode(
                F.expr(
                    f"transform(slice({out}, 1, size({out}) - 1),"
                    f" (x, i) -> concat(x, ' ', element_at({out}, i + 2)))"
                )
            ).alias("gram"),
        )
        return uni.unionByName(bi).groupBy("pair_id", "n", "gram").agg(
            F.count(F.lit(1)).alias("c")
        )

    cg = grams(F.col("cw"), "cw").withColumnRenamed("c", "tc")
    rg = grams(F.col("rw"), "rw").withColumnRenamed("c", "tr")
    hit = F.least(F.col("tc"), F.coalesce(F.col("tr"), F.lit(0)))
    pc = (
        cg.join(rg, ["pair_id", "n", "gram"], "left")
        .groupBy("pair_id")
        .agg(
            F.sum(F.when(F.col("n") == 1, hit).otherwise(0))
            .cast("bigint")
            .alias("num1"),
            F.sum(F.when(F.col("n") == 1, F.col("tc")).otherwise(0))
            .cast("bigint")
            .alias("den1"),
            F.sum(F.when(F.col("n") == 2, hit).otherwise(0))
            .cast("bigint")
            .alias("num2"),
            F.sum(F.when(F.col("n") == 2, F.col("tc")).otherwise(0))
            .cast("bigint")
            .alias("den2"),
        )
    )
    bp = F.when(
        F.size("cw") < F.size("rw"),
        F.exp(F.lit(1.0) - F.size("rw") / F.size("cw").cast("double")),
    ).otherwise(F.lit(1.0))
    sb = pairs.join(pc, "pair_id").select(
        "pair_id", bp.alias("bp"), "num1", "den1", "num2", "den2"
    ).where(F.col("den2") >= 1)

    def geo(p1_num, p2_num, p2_den):
        return F.col("bp") * F.exp(
            0.5
            * (
                F.log(p1_num / F.col("den1").cast("double"))
                + F.log(p2_num / p2_den.cast("double"))
            )
        )

    eps = F.lit(0.1)
    m0 = F.when(
        (F.col("num1") > 0) & (F.col("num2") > 0),
        geo(F.col("num1"), F.col("num2"), F.col("den2")),
    ).otherwise(F.lit(0.0))
    m1 = geo(
        F.when(F.col("num1") > 0, F.col("num1").cast("double")).otherwise(eps),
        F.when(F.col("num2") > 0, F.col("num2").cast("double")).otherwise(eps),
        F.col("den2"),
    )
    m2 = F.when(
        F.col("num1") > 0,
        geo(F.col("num1"), F.col("num2") + 1, F.col("den2") + 1),
    ).otherwise(F.lit(0.0))
    scored = sb.select(
        m0.alias("m0"),
        m1.alias("m1"),
        m2.alias("m2"),
        F.when(F.col("num2") == 0, 1).otherwise(0).alias("zero2"),
    ).transform(managed_persist)

    def arm(col, label):
        return scored.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.sum("zero2").cast("bigint").alias("n_zero_bigram"),
            F.round(
                F.sum(F.round(F.col(col), 9).cast("decimal(24,12)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("mean_sbleu"),
        ).select(
            F.lit(label).alias("method"), "n_pairs", "n_zero_bigram", "mean_sbleu"
        )

    return arm("m0", "m0_none").unionByName(arm("m1", "m1_epsilon")).unionByName(
        arm("m2", "m2_add_one")
    )


@query(
    "q492_dp_noisy_histogram",
    oracle="""
WITH h AS (
  SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS true_count
  FROM documents GROUP BY lang, source
),
seeded AS (
  SELECT lang, source, true_count,
         ((list_reduce(list_transform(string_split(substr(md5(lang || ':' || source), 1, 8), ''),
             c -> CAST(CASE WHEN ascii(c) >= 97 THEN ascii(c) - 87
                       ELSE ascii(c) - 48 END AS BIGINT)), (a, b) -> a * 16 + b)
           % 2147483647) * 2654435761 + 12345) % 2147483647 AS k
  FROM h
),
noised AS (
  SELECT lang, source, true_count,
         (k + 0.5) / 2147483648.0 AS u
  FROM seeded
)
SELECT lang, source, true_count,
       ROUND(-(CASE WHEN u >= 0.5 THEN 1.0 ELSE -1.0 END)
             * ln(1.0 - 2.0 * ABS(u - 0.5)), 6) AS noise,
       ROUND(true_count
             - (CASE WHEN u >= 0.5 THEN 1.0 ELSE -1.0 END)
             * ln(1.0 - 2.0 * ABS(u - 0.5)), 6) AS noisy_count
FROM noised
""",
)
def q492_dp_noisy_histogram(spark, sf_dir):
    """LAPLACE-MECHANISM PLAN SHAPE with reproducible seeded noise —
    NOT differential privacy as shipped (r9 advice: the noise here is
    a deterministic function of the PUBLIC cell key — md5 of
    lang:source — so anyone can recompute and subtract it; zero actual
    privacy is provided until the uniform comes from a per-release
    DRBG). What this query builds and oracles is everything AROUND the
    randomness: the Dwork-2006 Laplace mechanism's plan (sensitivity-1
    count histogram -> per-cell uniform -> inverse-CDF Laplace(1/eps),
    eps = 1), the exact utility cost shown beside every cell, and
    bit-for-bit cross-engine reproducibility of the noise path (the
    q25/q26 seeded-sampling discipline). It pairs with the risk AUDITS
    q365/q409/q487, which measure what a raw release leaks.

    Scale shape: one groupBy on the bounded release domain; noise is a
    scan-local expression per cell (no RNG state, no driver); ln of an
    exact rational is the same double on both engines.

    Production note: swap the seeded uniform for a cryptographic DRBG
    drawn fresh per release epoch and the same plan IS eps=1 DP; the
    seeded form exists so the release is value-oracle-testable."""
    from variantcalling_spark.operators.dedup import portable_string_hash

    docs = load_table(spark, sf_dir, "documents")
    h = docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("bigint").alias("true_count")
    )
    k = (
        portable_string_hash(F.concat_ws(":", F.col("lang"), F.col("source")))
        * F.lit(2654435761).cast("bigint")
        + 12345
    ) % F.lit(2147483647).cast("bigint")
    u = (k + 0.5) / F.lit(2147483648.0)
    sign = F.when(u >= 0.5, F.lit(1.0)).otherwise(F.lit(-1.0))
    lap = -sign * F.log(F.lit(1.0) - 2.0 * F.abs(u - 0.5))
    return h.select(
        "lang",
        "source",
        "true_count",
        F.round(lap, 6).alias("noise"),
        F.round(F.col("true_count") + lap, 6).alias("noisy_count"),
    )


_CHRF_NS = (1, 2, 3)
_CHRF_BETA2 = 4  # beta = 2, beta^2 = 4 (recall-weighted, the chrF default)


def _chrf_oracle_sql() -> str:
    def gram_select(side, col):
        parts = []
        for n in _CHRF_NS:
            parts.append(
                f"""    SELECT pair_id, {n} AS n,
           unnest([substr({col}, i, {n})
                   for i in generate_series(1, len({col}) - {n} + 1)]) AS gram
    FROM pairs"""
            )
        return "\n    UNION ALL\n".join(parts)

    return f"""
WITH pairs AS (
  SELECT CAST(a.doc_id // 2 AS BIGINT) AS pair_id,
         replace(a.text, ' ', '') AS cc, replace(b.text, ' ', '') AS rc
  FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
  WHERE a.doc_id % 2 = 0
),
cg AS (
  SELECT pair_id, n, gram, CAST(COUNT(*) AS BIGINT) AS tc FROM (
{gram_select("c", "cc")}
  ) GROUP BY pair_id, n, gram
),
rg AS (
  SELECT pair_id, n, gram, CAST(COUNT(*) AS BIGINT) AS tr FROM (
{gram_select("r", "rc")}
  ) GROUP BY pair_id, n, gram
),
m AS (
  SELECT cg.n,
         CAST(SUM(LEAST(cg.tc, COALESCE(rg.tr, 0))) AS BIGINT) AS matches,
         CAST(SUM(cg.tc) AS BIGINT) AS c_total
  FROM cg LEFT JOIN rg ON rg.pair_id = cg.pair_id AND rg.n = cg.n
                       AND rg.gram = cg.gram
  GROUP BY cg.n
),
rt AS (SELECT n, CAST(SUM(tr) AS BIGINT) AS r_total FROM rg GROUP BY n)
SELECT CAST(m.n AS INT) AS n, matches, c_total, r_total,
       ROUND(matches / CAST(c_total AS DOUBLE), 6) AS precision_n,
       ROUND(matches / CAST(r_total AS DOUBLE), 6) AS recall_n,
       ROUND((1 + {_CHRF_BETA2}) * (matches / CAST(c_total AS DOUBLE))
             * (matches / CAST(r_total AS DOUBLE))
             / ({_CHRF_BETA2} * (matches / CAST(c_total AS DOUBLE))
                + (matches / CAST(r_total AS DOUBLE))), 6) AS chrf2
FROM m JOIN rt USING (n)
ORDER BY n
"""


@query("q508_chrf_score", oracle=_chrf_oracle_sql())
def q508_chrf_score(spark, sf_dir):
    """chrF EVALUATION METRIC (Popovic 2015) — the character-n-gram
    F-beta complement of the word-level BLEU (q378/q489) and LCS-level
    ROUGE (q423) already on the board; chrF is the standard MT/gen-eval
    metric that survives tokenizer and morphology differences because
    it never tokenizes. Same adjacent-doc pair convention as q378
    (even doc_id = candidate, +1 = reference), whitespace stripped,
    n = 1..3, corpus-level (micro) clipped counts, beta = 2
    (recall-weighted, the chrF default).

    Exactness: matches and totals are clipped INTEGER counts summed as
    bigints; precision/recall are single integer ratios and chrF2 is
    one arithmetic expression over them, written identically on both
    engines and rounded at 6 dp.

    Scale shape: the gram relation is ~3 rows per character —
    explode + two map-side-combinable counts + one equi-join on
    (pair_id, n, gram); nothing quadratic, no collect."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    a = docs.where(F.col("doc_id") % 2 == 0).select(
        (F.col("doc_id") / 2).cast("bigint").alias("pair_id"),
        F.translate("text", " ", "").alias("cc"),
        (F.col("doc_id") + 1).alias("ref_id"),
    )
    b = docs.select(F.col("doc_id").alias("ref_id"), F.translate("text", " ", "").alias("rc"))
    pairs = a.join(b, "ref_id").select("pair_id", "cc", "rc").transform(managed_persist)

    def grams(col):
        out = None
        for n in _CHRF_NS:
            g = pairs.select(
                "pair_id",
                F.lit(n).alias("n"),
                F.explode(
                    F.when(
                        F.length(col) >= n,
                        F.expr(
                            f"transform(sequence(1, length({col}) - {n} + 1),"
                            f" i -> substring({col}, i, {n}))"
                        ),
                    ).otherwise(F.array())
                ).alias("gram"),
            )
            out = g if out is None else out.unionByName(g)
        return out

    cg = grams("cc").groupBy("pair_id", "n", "gram").agg(
        F.count(F.lit(1)).cast("bigint").alias("tc")
    )
    rg = grams("rc").groupBy("pair_id", "n", "gram").agg(
        F.count(F.lit(1)).cast("bigint").alias("tr")
    ).transform(managed_persist)
    m = (
        cg.join(rg, ["pair_id", "n", "gram"], "left")
        .groupBy("n")
        .agg(
            F.sum(F.least("tc", F.coalesce("tr", F.lit(0).cast("bigint"))))
            .cast("bigint")
            .alias("matches"),
            F.sum("tc").cast("bigint").alias("c_total"),
        )
    )
    rt = rg.groupBy("n").agg(F.sum("tr").cast("bigint").alias("r_total"))
    p = F.col("matches") / F.col("c_total").cast("double")
    r = F.col("matches") / F.col("r_total").cast("double")
    return (
        m.join(rt, "n")
        .select(
            F.col("n").cast("int").alias("n"),
            "matches",
            "c_total",
            "r_total",
            F.round(p, 6).alias("precision_n"),
            F.round(r, 6).alias("recall_n"),
            F.round(
                (1 + _CHRF_BETA2) * p * r / (_CHRF_BETA2 * p + r), 6
            ).alias("chrf2"),
        )
        .orderBy("n")
    )


_GUM_K = 5


def _gumbel_topk_oracle_sql() -> str:
    from variantcalling_spark.operators.dedup import PORTABLE_HASH_SQL

    phash = PORTABLE_HASH_SQL.format(col="'gum:' || CAST(doc_id AS VARCHAR)")
    return f"""
WITH seeded AS (
  SELECT source, doc_id, CAST(length(text) AS BIGINT) AS w,
         ((({phash}) * 2654435761 + 12345) % 2147483647) AS k
  FROM documents
),
keyed AS (
  SELECT source, doc_id, w,
         ln(CAST(w AS DOUBLE))
           - ln(-ln((k + 0.5) / 2147483648.0)) AS g
  FROM seeded
),
ranked AS (
  SELECT source, doc_id, w,
         ROUND(g, 6) AS gumbel_key,
         CAST(ROW_NUMBER() OVER (PARTITION BY source ORDER BY g DESC, doc_id)
              AS INT) AS rank
  FROM keyed
)
SELECT source, rank, doc_id, w, gumbel_key
FROM ranked WHERE rank <= {_GUM_K}
ORDER BY source, rank
"""


@query("q512_gumbel_topk_sampling", oracle=_gumbel_topk_oracle_sql())
def q512_gumbel_topk_sampling(spark, sf_dir):
    """GUMBEL TOP-K WEIGHTED SAMPLING WITHOUT REPLACEMENT — the
    data-mixing primitive (select k docs per source with probability
    proportional to weight, here doc length): the Gumbel-max trick
    g_i = ln(w_i) - ln(-ln(u_i)) turns weighted sampling-without-
    replacement into a plain per-group top-k, which is ONE window rank
    — no sequential draws, no rejection loop, trivially distributed
    (Efraimidis-Spirakis equivalent, Vieira 2014 form). u_i comes from
    the engine-portable seeded recipe (md5 -> LCG -> (k+0.5)/2^31, the
    q25/q26/q492 discipline), so the 'random' sample is reproducible
    bit-for-bit and fully value-oracled — same property a production
    pipeline wants for AUDITABLE mixing decisions.

    Exactness: w is an integer; u is an exact rational; both engines
    evaluate the identical ln expression on identical doubles; the
    rank ties break by doc_id (measure-zero for real keys).

    Scale shape: one scan-local key projection + one per-source top-k
    window — O(n log k) per partition, no shuffle beyond the source
    partitioning, embarrassingly parallel at any corpus size."""
    from variantcalling_spark.operators.dedup import portable_string_hash
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    k = (
        portable_string_hash(
            F.concat(F.lit("gum:"), F.col("doc_id").cast("string"))
        )
        * F.lit(2654435761).cast("bigint")
        + 12345
    ) % F.lit(2147483647).cast("bigint")
    u = (k + 0.5) / F.lit(2147483648.0)
    w = F.length("text").cast("bigint")
    g = F.log(w.cast("double")) - F.log(-F.log(u))
    ranked = docs.select(
        "source",
        "doc_id",
        w.alias("w"),
        F.round(g, 6).alias("gumbel_key"),
        F.row_number()
        .over(W.partitionBy("source").orderBy(g.desc(), "doc_id"))
        .cast("int")
        .alias("rank"),
    )
    return (
        ranked.where(F.col("rank") <= _GUM_K)
        .select("source", "rank", "doc_id", "w", "gumbel_key")
        .orderBy("source", "rank")
    )


@query(
    "q513_wasserstein_1d",
    oracle="""
WITH two_src AS (
  SELECT source, CASE WHEN rn = 1 THEN 'a' ELSE 'b' END AS which FROM (
    SELECT source, ROW_NUMBER() OVER (ORDER BY source) AS rn
    FROM (SELECT DISTINCT source FROM documents)
  ) WHERE rn <= 2
),
vals AS (
  SELECT t.which, CAST(length(d.text) AS BIGINT) AS x,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM documents d JOIN two_src t USING (source)
  GROUP BY t.which, length(d.text)
),
grid AS (
  SELECT x,
         CAST(SUM(CASE WHEN which = 'a' THEN c ELSE 0 END) AS BIGINT) AS ca,
         CAST(SUM(CASE WHEN which = 'b' THEN c ELSE 0 END) AS BIGINT) AS cb
  FROM vals GROUP BY x
),
tot AS (
  SELECT CAST(SUM(ca) AS BIGINT) AS na, CAST(SUM(cb) AS BIGINT) AS nb FROM grid
),
cdf AS (
  SELECT x,
         CAST(SUM(ca) OVER w AS BIGINT) AS cuma,
         CAST(SUM(cb) OVER w AS BIGINT) AS cumb,
         LEAD(x) OVER (ORDER BY x) AS nx
  FROM grid
  WINDOW w AS (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
terms AS (
  SELECT CAST(ROUND(ABS(cuma / CAST(t.na AS DOUBLE) - cumb / CAST(t.nb AS DOUBLE)), 12)
              AS DECIMAL(20,12)) AS gapf,
         COALESCE(nx - x, 0) AS dx
  FROM cdf CROSS JOIN tot t
)
SELECT (SELECT source FROM two_src WHERE which = 'a') AS source_a,
       (SELECT source FROM two_src WHERE which = 'b') AS source_b,
       (SELECT na FROM tot) AS n_a,
       (SELECT nb FROM tot) AS n_b,
       ROUND(CAST(SUM(gapf * dx) AS DOUBLE), 6) AS wasserstein_1,
       ROUND(CAST(MAX(gapf) AS DOUBLE), 6) AS ks_stat
FROM terms
""",
)
def q513_wasserstein_1d(spark, sf_dir):
    """EXACT 1-D WASSERSTEIN (earth-mover) DISTANCE between the
    document-length distributions of the two first sources — the
    transport-cost drift measure beside the already-shipped divergence
    family (JSD q299 needs binning, MMD q480 needs a kernel; W1 on a
    1-D integer support is exactly the area between the two CDFs:
    W1 = sum over the merged support of |F_a(x) - F_b(x)| * gap).
    The same CDF relation yields the Kolmogorov-Smirnov statistic
    (max gap) for free, so the ledger reports both: total transport
    AND worst pointwise CDF gap.

    Exactness: cumulative counts are bigints, each |F_a - F_b| snaps
    to 12 dp DECIMAL before multiplying by the integer support gap,
    and the term sum is DECIMAL (order-free) — the only doubles are
    the final rounded outputs.

    Scale shape: one groupBy to the (source, length) histogram
    (bounded by the support, not the corpus), one ordered cumulative
    window over the merged support grid — O(distinct lengths) after
    the first aggregate, no collect."""
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    two_src = (
        docs.select("source")
        .distinct()
        .withColumn("rn", F.row_number().over(W.orderBy("source")))
        .where(F.col("rn") <= 2)
        .select(
            "source",
            F.when(F.col("rn") == 1, "a").otherwise("b").alias("which"),
        )
        .transform(managed_persist)
    )
    vals = (
        docs.join(F.broadcast(two_src), "source")
        .groupBy("which", F.length("text").cast("bigint").alias("x"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    grid = vals.groupBy("x").agg(
        F.sum(F.when(F.col("which") == "a", F.col("c")).otherwise(0))
        .cast("bigint")
        .alias("ca"),
        F.sum(F.when(F.col("which") == "b", F.col("c")).otherwise(0))
        .cast("bigint")
        .alias("cb"),
    )
    tot = grid.agg(
        F.sum("ca").cast("bigint").alias("na"),
        F.sum("cb").cast("bigint").alias("nb"),
    )
    wc = W.orderBy("x").rowsBetween(W.unboundedPreceding, W.currentRow)
    cdf = grid.select(
        "x",
        F.sum("ca").over(wc).cast("bigint").alias("cuma"),
        F.sum("cb").over(wc).cast("bigint").alias("cumb"),
        F.lead("x").over(W.orderBy("x")).alias("nx"),
    )
    terms = cdf.crossJoin(F.broadcast(tot)).select(
        F.round(
            F.abs(
                F.col("cuma") / F.col("na").cast("double")
                - F.col("cumb") / F.col("nb").cast("double")
            ),
            12,
        )
        .cast("decimal(20,12)")
        .alias("gapf"),
        F.coalesce(F.col("nx") - F.col("x"), F.lit(0)).alias("dx"),
    )
    names = two_src.groupBy().pivot("which", ["a", "b"]).agg(F.first("source"))
    return (
        terms.agg(
            F.round(F.sum(F.col("gapf") * F.col("dx")).cast("double"), 6).alias(
                "wasserstein_1"
            ),
            F.round(F.max("gapf").cast("double"), 6).alias("ks_stat"),
        )
        .crossJoin(F.broadcast(names.select(F.col("a").alias("source_a"), F.col("b").alias("source_b"))))
        .crossJoin(F.broadcast(tot.select(F.col("na").alias("n_a"), F.col("nb").alias("n_b"))))
        .select("source_a", "source_b", "n_a", "n_b", "wasserstein_1", "ks_stat")
    )


@query(
    "q515_chao1_richness",
    oracle="""
WITH tok AS (
  SELECT source, unnest(string_split(text, ' ')) AS token FROM documents
),
counts AS (
  SELECT source, token, CAST(COUNT(*) AS BIGINT) AS c
  FROM tok GROUP BY source, token
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS s_obs,
       CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
       CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2,
       ROUND(COUNT(*)
             + SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END)
               * CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) - 1 AS DOUBLE)
               / (2.0 * (SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) + 1)), 6)
         AS chao1
FROM counts GROUP BY source ORDER BY source
""",
)
def q515_chao1_richness(spark, sf_dir):
    """CHAO1 VOCABULARY-RICHNESS ESTIMATOR per source (Chao 1984,
    bias-corrected form: S_obs + f1(f1-1)/(2(f2+1))) — the
    how-much-vocabulary-have-we-NOT-seen estimate from singleton and
    doubleton counts, the abundance-based complement of the Heaps-law
    growth fit (q249/q488 extrapolate the CURVE; Chao1 bounds the
    asymptote from one sample) and of Good-Turing (q248, which
    re-discounts the same f1/f2 for probability mass instead of
    richness). A source whose chao1 far exceeds s_obs is undersampled
    — more data from it buys vocabulary; one near s_obs is saturated.

    Exactness: s_obs/f1/f2 are integer aggregates; the correction is
    one fixed-shape rational expression, rounded at 6 dp.

    Scale shape: one explode + one (source, token) groupBy + one
    source-level fold — two map-side-combinable aggregates, no joins,
    no collect."""
    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.select("source", F.explode(F.split("text", " ")).alias("token"))
        .groupBy("source", "token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    f1 = F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).cast("bigint")
    f2 = F.sum(F.when(F.col("c") == 2, 1).otherwise(0)).cast("bigint")
    return (
        counts.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("s_obs"),
            f1.alias("f1"),
            f2.alias("f2"),
        )
        .select(
            "source",
            "s_obs",
            "f1",
            "f2",
            F.round(
                F.col("s_obs")
                + F.col("f1") * (F.col("f1") - 1).cast("double")
                / (F.lit(2.0) * (F.col("f2") + 1)),
                6,
            ).alias("chao1"),
        )
        .orderBy("source")
    )


_BURST_TOPK = 20


@query(
    "q516_token_burstiness",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
),
per_doc AS (
  SELECT token, doc_id, CAST(COUNT(*) AS BIGINT) AS c
  FROM tok GROUP BY token, doc_id
),
nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
top AS (
  SELECT token, CAST(SUM(c) AS BIGINT) AS total,
         CAST(COUNT(*) AS BIGINT) AS n_docs_with,
         CAST(SUM(c * c) AS BIGINT) AS sum_c2
  FROM per_doc GROUP BY token
  ORDER BY total DESC, token LIMIT {_BURST_TOPK}
)
SELECT token, total, n_docs_with,
       ROUND(total / CAST(nd.n_docs AS DOUBLE), 6) AS mean_per_doc,
       ROUND((sum_c2 / CAST(nd.n_docs AS DOUBLE)
              - (total / CAST(nd.n_docs AS DOUBLE))
                * (total / CAST(nd.n_docs AS DOUBLE)))
             / (total / CAST(nd.n_docs AS DOUBLE)), 6) AS fano,
       CAST(ROW_NUMBER() OVER (ORDER BY total DESC, token) AS INT) AS rk
FROM top CROSS JOIN nd
ORDER BY rk
""",
)
def q516_token_burstiness(spark, sf_dir):
    """TOKEN BURSTINESS via the Fano factor (variance-to-mean ratio of
    per-document occurrence counts, zeros included — Church & Gale's
    burstiness: content words CLUMP, fano >> 1; function words spread
    Poisson-like, fano ~ 1) for the top-20 corpus tokens. The
    corpus-health signal a tokenizer/mixing audit reads beside Zipf
    (q177) and Heaps (q249): a 'frequent' token that occurs in few
    documents is topical burst, not general vocabulary.

    Exactness: total, n_docs_with, and sum of squared counts are
    integer aggregates (zero-count docs contribute 0 to both sums, so
    they never need materializing); mean and fano are fixed-shape
    rational expressions over them, rounded at 6 dp.

    Scale shape: one explode + one (token, doc) groupBy + one token
    fold + a bounded top-k — map-side combinable throughout, the
    only ordered op is the k-row take."""
    docs = load_table(spark, sf_dir, "documents")
    per_doc = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token", "doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    nd = docs.agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    top = (
        per_doc.groupBy("token")
        .agg(
            F.sum("c").cast("bigint").alias("total"),
            F.count(F.lit(1)).cast("bigint").alias("n_docs_with"),
            F.sum(F.col("c") * F.col("c")).cast("bigint").alias("sum_c2"),
        )
        .orderBy(F.desc("total"), "token")
        .limit(_BURST_TOPK)
    )
    mean = F.col("total") / F.col("n_docs").cast("double")
    from pyspark.sql import Window as W

    # rank BEFORE the broadcast crossJoin so the global window's input
    # subtree is the 20-row TakeOrderedAndProject itself (plan-audit
    # auto-clears limit-bounded windows)
    ranked = top.withColumn(
        "rk",
        F.row_number().over(W.orderBy(F.desc("total"), "token")).cast("int"),
    )
    return (
        ranked.crossJoin(F.broadcast(nd))
        .select(
            "token",
            "total",
            "n_docs_with",
            F.round(mean, 6).alias("mean_per_doc"),
            F.round(
                (F.col("sum_c2") / F.col("n_docs").cast("double") - mean * mean)
                / mean,
                6,
            ).alias("fano"),
            "rk",
        )
        .orderBy("rk")
    )


_RR_P = 0.75  # probability of reporting the TRUE category


@query(
    "q523_randomized_response",
    oracle=f"""
WITH dom AS (
  SELECT list_sort(list(lang)) AS langs,
         CAST(len(list(lang)) AS BIGINT) AS k
  FROM (SELECT DISTINCT lang FROM documents)
),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
reported AS (
  SELECT d.lang AS true_lang,
         CASE WHEN ((1103515245 * d.doc_id + 12345) % 2147483647 + 0.5)
                   / 2147483648.0 < {_RR_P!r}
              THEN d.lang
              ELSE dom.langs[CAST((1103515245 * (d.doc_id + 777) + 54321)
                                  % 2147483647 % dom.k AS INT) + 1]
         END AS rep_lang
  FROM documents d, dom
),
obs AS (
  SELECT rep_lang AS lang, CAST(COUNT(*) AS BIGINT) AS n_reported
  FROM reported GROUP BY rep_lang
),
tru AS (
  SELECT true_lang AS lang, CAST(COUNT(*) AS BIGINT) AS n_true
  FROM reported GROUP BY true_lang
)
SELECT spine.lang,
       COALESCE(t.n_true, 0) AS n_true,
       COALESCE(o.n_reported, 0) AS n_reported,
       ROUND((COALESCE(o.n_reported, 0)
              - tot.n * {1.0 - _RR_P!r} / dom.k) / {_RR_P!r}, 6) AS n_debiased,
       ROUND((COALESCE(o.n_reported, 0)
              - tot.n * {1.0 - _RR_P!r} / dom.k) / {_RR_P!r}
             - COALESCE(t.n_true, 0), 6) AS est_error
FROM (SELECT unnest(langs) AS lang FROM dom) spine
LEFT JOIN obs o USING (lang)
LEFT JOIN tru t USING (lang)
CROSS JOIN dom CROSS JOIN tot
""",
)
def q523_randomized_response(spark, sf_dir):
    """K-ARY RANDOMIZED RESPONSE with the unbiased frequency estimator
    — the LOCAL-DP collection primitive beside the central-model
    q492/q503 Laplace releases: each row reports its true category
    (lang) with probability p=0.75, else a seeded-uniform draw from
    the k-category domain (true included), and the aggregator debiases
    with n_hat = (n_obs - N(1-p)/k)/p. Output per category: true
    count, reported count, debiased estimate, estimation error — the
    utility ledger a privacy review reads before choosing p.

    Like q492 the randomness is the PORTABLE SEEDED LCG (a
    deterministic function of doc_id), so the whole mechanism —
    perturbation included — is value-checked cross-engine; swap the
    uniform for a client-side DRBG and the identical plan is
    eps = ln(1 + k*p/(1-p)) local DP.

    Scale shape: the domain array is a broadcast scalar (bounded
    category domain); perturbation is a scan-local expression per row
    (no RNG state, no shuffle beyond the final bounded groupBy); the
    estimator is arithmetic on k aggregate rows."""
    docs = load_table(spark, sf_dir, "documents")
    dom = docs.select("lang").distinct().agg(
        F.array_sort(F.collect_list("lang")).alias("langs"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
    )
    tot = docs.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    u = (
        (F.lit(1103515245).cast("bigint") * F.col("doc_id") + 12345)
        % F.lit(2147483647).cast("bigint")
        + 0.5
    ) / F.lit(2147483648.0)
    j = (
        (F.lit(1103515245).cast("bigint") * (F.col("doc_id") + 777) + 54321)
        % F.lit(2147483647).cast("bigint")
    ) % F.col("k")
    reported = (
        docs.crossJoin(F.broadcast(dom))
        .select(
            F.col("lang").alias("true_lang"),
            F.when(u < _RR_P, F.col("lang"))
            .otherwise(F.element_at("langs", j.cast("int") + 1))
            .alias("rep_lang"),
        )
        .transform(managed_persist)
    )
    obs = reported.groupBy(F.col("rep_lang").alias("lang")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_reported")
    )
    tru = reported.groupBy(F.col("true_lang").alias("lang")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_true")
    )
    spine = dom.select(F.explode("langs").alias("lang"))
    debiased = (
        F.coalesce(F.col("n_reported"), F.lit(0))
        - F.col("n") * F.lit(1.0 - _RR_P) / F.col("k")
    ) / F.lit(_RR_P)
    return (
        spine.join(obs, "lang", "left")
        .join(tru, "lang", "left")
        .crossJoin(F.broadcast(dom.select("k")))
        .crossJoin(F.broadcast(tot))
        .select(
            "lang",
            F.coalesce("n_true", F.lit(0)).cast("bigint").alias("n_true"),
            F.coalesce("n_reported", F.lit(0)).cast("bigint").alias("n_reported"),
            F.round(debiased, 6).alias("n_debiased"),
            F.round(debiased - F.coalesce("n_true", F.lit(0)), 6).alias("est_error"),
        )
    )


_SUF_TRUNC = 8   # suffix truncation in words (bounds row width)
_SUF_MIN_LCP = 4  # minimum repeated-run length worth reporting


@query(
    "q526_repeated_sequences",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
),
suf AS (
  SELECT doc_id,
         unnest(generate_series(1, len(ws))) AS pos,
         unnest([list_slice(ws, i, least(i + {_SUF_TRUNC - 1}, len(ws)))
                 for i in generate_series(1, len(ws))]) AS wa
  FROM tok
),
ranked AS (
  SELECT doc_id, pos, wa, array_to_string(wa, ' ') AS s,
         ROW_NUMBER() OVER (ORDER BY array_to_string(wa, ' '), doc_id, pos) AS rn
  FROM suf
),
pairs AS (
  SELECT a.wa AS a, b.wa AS b
  FROM ranked a JOIN ranked b ON b.rn = a.rn + 1
  WHERE a.doc_id <> b.doc_id
),
scored AS (
  SELECT a, b,
         COALESCE(list_min([i for i in generate_series(1, least(len(a), len(b)))
                            if a[i] <> b[i]]) - 1,
                  least(len(a), len(b))) AS lcp
  FROM pairs
),
grouped AS (
  SELECT array_to_string(list_slice(a, 1, lcp), ' ') AS phrase,
         CAST(lcp AS INT) AS lcp_words,
         CAST(COUNT(*) AS BIGINT) AS n_adj
  FROM scored WHERE lcp >= {_SUF_MIN_LCP}
  GROUP BY 1, 2
)
SELECT phrase, lcp_words, n_adj,
       CAST(ROW_NUMBER() OVER (ORDER BY lcp_words DESC, n_adj DESC, phrase)
            AS INT) AS rnk
FROM grouped
ORDER BY lcp_words DESC, n_adj DESC, phrase
LIMIT 15
""",
)
def q526_repeated_sequences(spark, sf_dir):
    """LONGEST REPEATED CROSS-DOCUMENT WORD SEQUENCES via distributed
    SUFFIX RANKING — the suffix-array-lite memorization probe: every
    word-level suffix (truncated to {_SUF_TRUNC} words, bounding row
    width) is globally sorted; adjacent suffixes from DIFFERENT
    documents share their longest repeated run as a word-level LCP
    (the classic result: the maximal repeat is always realized by some
    adjacent pair in suffix order). Unlike the fixed-n shingle probes
    (q114 spans, q133 decontamination) this finds repeats WITHOUT
    choosing n — the top-15 ledger reads out verbatim boilerplate /
    memorization candidates by length.

    Scale shape: the suffix relation is O(total words) rows of bounded
    width; the rank comes from `ranged_row_number` (range-exchange
    sampled boundaries over the full composite key — near-equal bucket
    populations even though ~15% of English suffixes start with "t",
    the skew a static first-character coarsening cannot dodge); the
    neighbor join is an equi-join on rn; LCP is per-row array algebra.
    This is exactly how large-scale suffix-array dedup pipelines
    (e.g. Lee et al. 2022 §4) shard: sort suffixes, compare neighbors.

    Reference parity: none (beyond-reference LLM-pipeline surface)."""
    from variantcalling_spark.operators.ordered import ranged_row_number
    from variantcalling_spark._persist import lineage_cut
    from pyspark.sql import Window as W2

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.split("text", " ").alias("ws"))
    suf = tok.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(1, size(ws)),"
                f" i -> struct(i AS pos, slice(ws, i, {_SUF_TRUNC}) AS wa))"
            )
        ).alias("u"),
    ).select(
        "doc_id",
        F.col("u.pos").alias("pos"),
        F.col("u.wa").alias("wa"),
        F.array_join("u.wa", " ").alias("s"),
    )
    ranked = ranged_row_number(
        suf, order_cols=[F.col("s"), F.col("doc_id"), F.col("pos")]
    ).transform(lineage_cut)
    a = ranked.select(
        F.col("doc_id").alias("da"), F.col("wa").alias("a"), F.col("rn").alias("ra")
    )
    b = ranked.select(
        F.col("doc_id").alias("db"), F.col("wa").alias("b"), (F.col("rn") - 1).alias("ra")
    )
    lcp = F.expr(
        "coalesce(array_min(filter(transform("
        "  sequence(1, least(size(a), size(b))),"
        "  i -> IF(element_at(a, i) != element_at(b, i), i, CAST(NULL AS INT))),"
        "  x -> x IS NOT NULL)) - 1,"
        " least(size(a), size(b)))"
    )
    scored = (
        a.join(b, "ra")
        .where(F.col("da") != F.col("db"))
        .select(F.col("a"), lcp.alias("lcp"))
        .where(F.col("lcp") >= _SUF_MIN_LCP)
    )
    grouped = (
        scored.select(
            F.array_join(F.expr("slice(a, 1, lcp)"), " ").alias("phrase"),
            F.col("lcp").cast("int").alias("lcp_words"),
        )
        .groupBy("phrase", "lcp_words")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_adj"))
    )
    top = grouped.orderBy(
        F.desc("lcp_words"), F.desc("n_adj"), "phrase"
    ).limit(15)
    return top.select(
        "*",
        F.row_number()
        .over(W2.orderBy(F.desc("lcp_words"), F.desc("n_adj"), "phrase"))
        .cast("int")
        .alias("rnk"),
    )


_BPE_TRAIN_ROUNDS = 6


def _bpe_train_oracle_sql(rounds: int = _BPE_TRAIN_ROUNDS) -> str:
    def round_ctes(t):
        return f""",
sy{t} AS (
  SELECT freq, string_split(substr(enc, 2, length(enc) - 2), chr(31) || chr(31)) AS syms
  FROM v{t-1}
),
p{t} AS MATERIALIZED (
  SELECT a, b, CAST(SUM(freq) AS BIGINT) AS n
  FROM (
    SELECT freq,
           unnest([syms[i] for i in generate_series(1, len(syms) - 1)]) AS a,
           unnest([syms[i + 1] for i in generate_series(1, len(syms) - 1)]) AS b
    FROM sy{t} WHERE len(syms) >= 2
  ) GROUP BY a, b
),
b{t} AS MATERIALIZED (
  SELECT a, b, n FROM p{t} ORDER BY n DESC, a, b LIMIT 1
),
v{t} AS MATERIALIZED (
  SELECT v.w, v.freq,
         replace(v.enc, chr(31) || bb.a || chr(31) || chr(31) || bb.b || chr(31),
                        chr(31) || bb.a || bb.b || chr(31)) AS enc
  FROM v{t-1} v, b{t} bb
)"""

    finals = "\nUNION ALL\n".join(
        f"SELECT CAST({t} AS INT) AS step, a AS sym_a, b AS sym_b,"
        f" a || b AS merged, n AS pair_count FROM b{t}"
        for t in range(1, rounds + 1)
    )
    return f"""
WITH v0 AS MATERIALIZED (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS freq,
         chr(31) || array_to_string(string_split(w, ''), chr(31) || chr(31)) || chr(31) AS enc
  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
  WHERE length(w) >= 2
  GROUP BY w
){''.join(round_ctes(t) for t in range(1, rounds + 1))}
{finals}
"""


@query("q521_bpe_train_loop", oracle=_bpe_train_oracle_sql())
def q521_bpe_train_loop(spark, sf_dir):
    """ITERATIVE BPE MERGE TRAINING (Sennrich et al. 2016) — the loop
    q126 runs ONE round of and q147 consumes the output of: 6 rounds of
    (count adjacent symbol pairs weighted by word frequency -> argmax
    with deterministic tie-break -> merge ALL non-overlapping
    occurrences corpus-wide), with the pair-count landscape RECOUNTED
    after every merge — the part a single counting pass cannot see
    (merging 't|h' changes the counts feeding round 2's choice of
    'th|e'). Output: the learned merge table (step, pair, merged
    symbol, count at selection time) — the tokenizer-training artifact
    itself.

    Exactness: state is the boundary-wrapped encoding string q147
    pinned (\x1f sym \x1f\x1f sym \x1f; one literal replace() merges
    all occurrences left-to-right on BOTH engines); the oracle unrolls
    the 6 rounds as MATERIALIZED CTE cycles (count -> argmax LIMIT 1 ->
    replace), tie-break ORDER BY n DESC, a, b — all-integer counts.

    Scale shape: training runs on the WORD-FREQUENCY table (bounded by
    vocabulary, not corpus — the standard BPE-trainer reduction), built
    in one corpus scan; each round is one explode + one map-side-
    combinable SUM + a single-row argmax (the q147 bounded-driver-state
    codebook pattern) + one scan-local replace projection, with
    `lineage_cut` per round so round t's plan does not re-inline rounds
    1..t-1 (the r11 static-plan recipe)."""
    from variantcalling_spark._persist import lineage_cut

    docs = load_table(spark, sf_dir, "documents")
    cur = (
        docs.select(F.explode(F.split("text", " ")).alias("w"))
        .where(F.length("w") >= 2)
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
        .select(
            "w",
            "freq",
            F.concat(
                F.lit("\x1f"),
                F.array_join(F.split("w", ""), "\x1f\x1f"),
                F.lit("\x1f"),
            ).alias("enc"),
        )
        .transform(lineage_cut)
    )
    rows = []
    for step in range(1, _BPE_TRAIN_ROUNDS + 1):
        sy = cur.select(
            "freq",
            F.split(
                F.expr("substring(enc, 2, length(enc) - 2)"), "\x1f\x1f"
            ).alias("syms"),
        ).where(F.size("syms") >= 2)
        pr = (
            sy.select(
                "freq",
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(syms) - 1),"
                        " i -> struct(element_at(syms, i) AS a,"
                        "             element_at(syms, i + 1) AS b))"
                    )
                ).alias("p"),
            )
            .groupBy("p.a", "p.b")
            .agg(F.sum("freq").cast("bigint").alias("n"))
        )
        best = pr.orderBy(F.desc("n"), "a", "b").limit(1).collect()
        if not best:
            break
        a, b, n = best[0].a, best[0].b, int(best[0].n)
        rows.append((step, a, b, a + b, n))
        cur = cur.select(
            "w",
            "freq",
            F.replace(
                F.col("enc"),
                F.lit("\x1f" + a + "\x1f\x1f" + b + "\x1f"),
                F.lit("\x1f" + a + b + "\x1f"),
            ).alias("enc"),
        ).transform(lineage_cut)
    return spark.createDataFrame(
        rows, "step int, sym_a string, sym_b string, merged string, pair_count bigint"
    )


_DMW_ROUNDS = 5
_DMW_TOPV = 50


def _dmw_oracle_sql(rounds: int = _DMW_ROUNDS, topv: int = _DMW_TOPV) -> str:
    parts = [f"""
WITH toks AS MATERIALIZED (
  SELECT tok FROM (
    SELECT tok, COUNT(*) AS n
    FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
    WHERE tok <> '' GROUP BY tok
  ) ORDER BY n DESC, tok LIMIT {topv}
),
cnts AS (
  SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS c
  FROM (SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents)
  WHERE tok IN (SELECT tok FROM toks)
  GROUP BY source, tok
),
srcs AS MATERIALIZED (SELECT DISTINCT source FROM documents),
tots AS (SELECT source, CAST(SUM(c) AS BIGINT) AS tot FROM cnts GROUP BY source),
pd AS MATERIALIZED (
  SELECT s.source, t.tok,
         CAST(COALESCE(c.c, 0) AS DOUBLE) / tt.tot AS p
  FROM srcs s CROSS JOIN toks t
  JOIN tots tt ON tt.source = s.source
  LEFT JOIN cnts c ON c.source = s.source AND c.tok = t.tok
),
w0 AS MATERIALIZED (
  SELECT source, 1.0 / (SELECT COUNT(*) FROM srcs) AS w FROM srcs
)"""]
    for t in range(1, rounds + 1):
        p = t - 1
        parts.append(f""",
mix{t} AS MATERIALIZED (
  SELECT pd.tok,
         CAST(SUM(CAST(ROUND(w{p}.w * pd.p, 9) AS DECIMAL(24,12))) AS DOUBLE) AS m
  FROM pd JOIN w{p} ON w{p}.source = pd.source
  GROUP BY pd.tok
),
loss{t} AS MATERIALIZED (
  SELECT pd.source,
         ROUND(CAST(SUM(CAST(ROUND(
           0.5 * (CASE WHEN pd.p > 0
                       THEN pd.p * ln(pd.p / ((pd.p + mix{t}.m) / 2.0))
                       ELSE 0.0 END)
           + 0.5 * (mix{t}.m * ln(mix{t}.m / ((pd.p + mix{t}.m) / 2.0))), 9)
           AS DECIMAL(24,12))) AS DOUBLE), 9) AS loss
  FROM pd JOIN mix{t} ON mix{t}.tok = pd.tok
  GROUP BY pd.source
),
upd{t} AS MATERIALIZED (
  SELECT l.source, l.loss, ROUND(w{p}.w * exp(l.loss), 9) AS wq
  FROM loss{t} l JOIN w{p} ON w{p}.source = l.source
),
w{t} AS MATERIALIZED (
  SELECT source,
         ROUND(wq / (SELECT CAST(SUM(CAST(wq AS DECIMAL(24,12))) AS DOUBLE)
                     FROM upd{t}), 9) AS w
  FROM upd{t}
)""")
    finals = "\nUNION ALL\n".join(
        f"SELECT CAST({t} AS INT) AS step, l.source,"
        f" ROUND(l.loss, 6) AS jsd_loss, ROUND(w{t}.w, 6) AS weight"
        f" FROM loss{t} l JOIN w{t} ON w{t}.source = l.source"
        for t in range(1, rounds + 1)
    )
    return "".join(parts) + "\n" + finals


@query("q525_domain_mixture_weights", oracle=_dmw_oracle_sql())
def q525_domain_mixture_weights(spark, sf_dir):
    """GROUP-DRO-STYLE DOMAIN MIXTURE REWEIGHTING — the data-mixing
    loop (DoReMi/Group-DRO shape) beside the static allocators (q385
    UniMax, q300 temperature mixture, q115 mixture sampling): 5 rounds
    of multiplicative weights over the 20 source domains where each
    round's loss is the Jensen-Shannon divergence between the domain's
    unigram distribution and the CURRENT weighted mixture — so the
    rounds are genuinely coupled (upweighting a far domain moves the
    mixture toward it, shrinking its own next-round loss; the
    fixed-point spreads representation across distribution space).
    w_d <- w_d * exp(JSD(p_d, m_w)) / Z per round. Output: the
    (step, domain, loss, weight) trajectory ledger.

    Exactness: distributions live on the fixed top-{_DMW_TOPV} global
    token support (deterministic tie-break); every cross-domain sum
    (mixture terms, JSD terms, the normalizer) is a round-9 +
    DECIMAL(24,12) exact sum; ln/exp on identical doubles (the
    engine-parity precedent of q97/q130/q324); the oracle unrolls all
    5 rounds as MATERIALIZED CTE cycles.

    Scale shape: the corpus is scanned ONCE to build the bounded
    (domains x top-V) distribution table (map-side-combinable counts);
    each round is arithmetic on that persisted bounded relation — two
    small joins + two aggregates — with the weight vector collected to
    the driver between rounds (k domain rows, the bounded-driver-state
    pattern). At 100 TB only the one counting scan grows."""
    from variantcalling_spark._persist import lineage_cut

    docs = load_table(spark, sf_dir, "documents")
    toksrc = docs.select(
        "source", F.explode(F.split("text", " ")).alias("tok")
    ).where(F.col("tok") != "")
    # ONE corpus scan: aggregate to the bounded (source x distinct-token)
    # relation first (map-side combinable); both the top-V pick and the
    # per-domain counts derive from that small relation, so the exploded
    # token stream is never re-read.
    all_cnts = (
        toksrc.groupBy("source", "tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .transform(lineage_cut)
    )
    top = (
        all_cnts.groupBy("tok")
        .agg(F.sum("c").alias("n"))
        .orderBy(F.desc("n"), "tok")
        .limit(_DMW_TOPV)
        .select("tok")
    )
    cnts = all_cnts.join(F.broadcast(top), "tok")
    srcs = docs.select("source").distinct()
    tots = cnts.groupBy("source").agg(F.sum("c").cast("bigint").alias("tot"))
    pd_df = (
        srcs.crossJoin(F.broadcast(top))
        .join(tots, "source")
        .join(cnts, ["source", "tok"], "left")
        .select(
            "source",
            "tok",
            (F.coalesce("c", F.lit(0)).cast("double") / F.col("tot")).alias("p"),
        )
        .transform(lineage_cut)
    )
    k = srcs.count()
    weights = [(r.source, 1.0 / k) for r in srcs.collect()]
    out_rows = []
    for step in range(1, _DMW_ROUNDS + 1):
        wdf = spark.createDataFrame(weights, "source string, w double")
        mix = (
            pd_df.join(F.broadcast(wdf), "source")
            .select(
                "tok",
                F.round(F.col("w") * F.col("p"), 9)
                .cast("decimal(24,12)")
                .alias("term"),
            )
            .groupBy("tok")
            .agg(F.sum("term").cast("double").alias("m"))
        )
        p_, m_ = F.col("p"), F.col("m")
        term = F.round(
            0.5
            * F.when(p_ > 0, p_ * F.log(p_ / ((p_ + m_) / 2.0))).otherwise(0.0)
            + 0.5 * (m_ * F.log(m_ / ((p_ + m_) / 2.0))),
            9,
        ).cast("decimal(24,12)")
        loss = (
            pd_df.join(F.broadcast(mix), "tok")
            .select("source", term.alias("term"))
            .groupBy("source")
            .agg(F.round(F.sum("term").cast("double"), 9).alias("loss"))
        )
        upd = loss.join(F.broadcast(wdf), "source").select(
            "source",
            "loss",
            F.round(F.col("w") * F.exp(F.col("loss")), 9).alias("wq"),
        )
        denom = upd.agg(
            F.sum(F.col("wq").cast("decimal(24,12)")).cast("double").alias("z")
        )
        res = (
            upd.crossJoin(F.broadcast(denom))
            .select("source", "loss", F.round(F.col("wq") / F.col("z"), 9).alias("wn"))
            .collect()
        )
        weights = [(r.source, float(r.wn)) for r in res]
        out_rows.extend(
            (step, r.source, float(r.loss), float(r.wn)) for r in res
        )
    out = spark.createDataFrame(
        out_rows, "step int, source string, loss double, wn double"
    )
    return out.select(
        "step",
        "source",
        F.round("loss", 6).alias("jsd_loss"),
        F.round("wn", 6).alias("weight"),
    )


# ---------------------------------------------------------------------------
# q529: interpolated Kneser-Ney bigram LM scoring
# ---------------------------------------------------------------------------

_KN_D = 0.75


@query(
    "q529_kneser_ney_bigram",
    oracle=f"""
WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
bg AS (
  SELECT doc_id,
         unnest(list_transform(range(CAST(len(w) AS BIGINT) - 1),
                i -> w[i+1] || ' ' || w[i+2])) AS g
  FROM w WHERE len(w) >= 2
),
pairs AS (
  SELECT doc_id, split_part(g, ' ', 1) AS w1, split_part(g, ' ', 2) AS w2
  FROM bg
),
big AS (
  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12
  FROM pairs WHERE doc_id % 2 = 0 GROUP BY w1, w2
),
ctx AS (
  SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1, CAST(COUNT(*) AS BIGINT) AS nf
  FROM big GROUP BY w1
),
bwd AS (SELECT w2, CAST(COUNT(*) AS BIGINT) AS nb FROM big GROUP BY w2),
tt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_types FROM big),
held AS (SELECT doc_id, w1, w2 FROM pairs WHERE doc_id % 2 = 1),
tot AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams
  FROM held GROUP BY doc_id
),
scored AS (
  SELECT h.doc_id,
         CAST(ROUND(-ln((GREATEST(COALESCE(b.c12, 0) - {_KN_D}, 0.0)
                         + {_KN_D} * ctx.nf
                           * (bwd.nb / CAST(n_types AS DOUBLE)))
                        / ctx.c1), 9) AS DECIMAL(28,9)) AS nll
  FROM held h
  JOIN ctx ON ctx.w1 = h.w1
  JOIN bwd ON bwd.w2 = h.w2
  LEFT JOIN big b ON b.w1 = h.w1 AND b.w2 = h.w2
  CROSS JOIN tt
)
SELECT s.doc_id, tot.n_bigrams, CAST(COUNT(*) AS BIGINT) AS n_scored,
       ROUND(CAST(SUM(s.nll) AS DOUBLE) / COUNT(*), 6) AS mean_nll,
       ROUND(EXP(CAST(SUM(s.nll) AS DOUBLE) / COUNT(*)), 6) AS ppl
FROM scored s JOIN tot ON tot.doc_id = s.doc_id
GROUP BY s.doc_id, tot.n_bigrams
""",
)
def q529_kneser_ney_bigram(spark, sf_dir):
    """INTERPOLATED KNESER-NEY BIGRAM LM SCORING (Kneser & Ney 1995;
    Chen & Goodman 1999 eq. 4.17) — the smoothing inside the KenLM
    models CCNet-style pipelines use for perplexity filtering, one rung
    of real LM structure above q130's unigram NLL: even doc_ids train
    the model (bigram counts, context totals c(w1), continuation
    fan-outs N1+(w1.) and fan-ins N1+(.w2), total bigram-type count),
    odd doc_ids are scored with absolute discount D={_KN_D} and the
    CONTINUATION-probability backoff P_cont(w2) = N1+(.w2)/types —
    Kneser-Ney's insight that a backoff word's weight is how many
    contexts it completes, not how often it occurs. Scored bigrams are
    those whose context and continuation both exist in the model (the
    standard OOV-removal contract, mirrored exactly in the oracle);
    per-doc output is bigram volume, scored volume, mean NLL and
    perplexity, with round-9 DECIMAL NLL terms so the per-doc sums are
    order-exact on both engines.

    Scale shape: model tables are corpus-wide aggregates (map-side
    combinable, one shuffle each over the bigram key space — vocab^2
    bounded, not corpus bounded); scoring is three equi-joins of the
    held-out bigram stream against model relations that broadcast at
    realistic vocab sizes, then one per-doc aggregate. Nothing in the
    plan holds a corpus-sized partition: 100 TB of held-out text scores
    at scan speed against a fixed model."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    w = docs.select("doc_id", F.split("text", " ").alias("w")).where(
        F.size("w") >= 2
    )
    pairs = w.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(w) - 1),"
                " i -> struct(element_at(w, i) AS w1,"
                "             element_at(w, i + 1) AS w2))"
            )
        ).alias("p"),
    ).select("doc_id", "p.w1", "p.w2")
    big = (
        pairs.where(F.col("doc_id") % 2 == 0)
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c12"))
        .transform(managed_persist)
    )
    ctx = big.groupBy("w1").agg(
        F.sum("c12").cast("bigint").alias("c1"),
        F.count(F.lit(1)).cast("bigint").alias("nf"),
    )
    bwd = big.groupBy("w2").agg(F.count(F.lit(1)).cast("bigint").alias("nb"))
    tt = big.agg(F.count(F.lit(1)).cast("bigint").alias("n_types"))
    held = pairs.where(F.col("doc_id") % 2 == 1)
    tot = held.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bigrams")
    )
    d = F.lit(_KN_D)
    p = (
        F.greatest(F.coalesce(F.col("c12"), F.lit(0)) - d, F.lit(0.0))
        + d * F.col("nf") * (F.col("nb") / F.col("n_types").cast("double"))
    ) / F.col("c1")
    scored = (
        held.join(F.broadcast(ctx), "w1")
        .join(F.broadcast(bwd), "w2")
        .join(F.broadcast(big), ["w1", "w2"], "left")
        .crossJoin(F.broadcast(tt))
        .select(
            "doc_id",
            F.round(-F.log(p), 9).cast("decimal(28,9)").alias("nll"),
        )
    )
    agg = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_scored"),
        F.sum("nll").cast("double").alias("nll_sum"),
    )
    mean_nll = F.col("nll_sum") / F.col("n_scored")
    return agg.join(tot, "doc_id").select(
        "doc_id",
        "n_bigrams",
        "n_scored",
        F.round(mean_nll, 6).alias("mean_nll"),
        F.round(F.exp(mean_nll), 6).alias("ppl"),
    )


# ---------------------------------------------------------------------------
# q530: reciprocal rank fusion of BM25 and embedding retrieval
# ---------------------------------------------------------------------------

_RRF_K = 60
_RRF_DEPTH = 100


@query(
    "q530_reciprocal_rank_fusion",
    oracle=f"""
WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
dl AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS INT) AS dl FROM documents),
stats AS (
  SELECT COUNT(*) AS n_docs,
         CAST(SUM(CAST(len(string_split(text, ' ')) AS DECIMAL(18,2))) AS DOUBLE)
           / COUNT(*) AS avgdl
  FROM documents
),
tf AS (
  SELECT doc_id, w, COUNT(*) AS tf FROM toks
  WHERE w IN ({_BM25_IN}) GROUP BY doc_id, w
),
idf AS (SELECT w, COUNT(*) AS df FROM tf GROUP BY w),
scoredb AS (
  SELECT tf.doc_id,
         CAST(ln((n_docs - df + 0.5) / (df + 0.5) + 1)
              * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl.dl / avgdl))
              AS DECIMAL(18,12)) AS s
  FROM tf JOIN idf USING (w) JOIN dl USING (doc_id) CROSS JOIN stats
),
aggb AS (
  SELECT doc_id, ROUND(CAST(SUM(s) AS DOUBLE), 6) AS score
  FROM scoredb GROUP BY doc_id
),
bm AS (
  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS r1
  FROM aggb QUALIFY r1 <= {_RRF_DEPTH}
),
qv AS (
  SELECT list_transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * {QUANT}) AS BIGINT)) AS qv
  FROM embeddings WHERE vec_id = 0
),
cv AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * {QUANT}) AS BIGINT)) AS cv
  FROM embeddings WHERE vec_id <> 0
),
cos AS (
  SELECT vec_id,
         list_dot_product(qv, cv)
           / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS cosine
  FROM cv CROSS JOIN qv
),
em AS (
  SELECT vec_id AS doc_id, ROW_NUMBER() OVER (ORDER BY cosine DESC, vec_id) AS r2
  FROM cos QUALIFY r2 <= {_RRF_DEPTH}
),
fused AS (
  SELECT COALESCE(bm.doc_id, em.doc_id) AS doc_id,
         CAST(COALESCE(r1, 0) AS INT) AS bm25_rank,
         CAST(COALESCE(r2, 0) AS INT) AS cos_rank,
         ROUND(COALESCE(CAST(1 AS DOUBLE) / ({_RRF_K} + r1), 0)
               + COALESCE(CAST(1 AS DOUBLE) / ({_RRF_K} + r2), 0), 6) AS rrf
  FROM bm FULL OUTER JOIN em ON bm.doc_id = em.doc_id
)
SELECT doc_id, bm25_rank, cos_rank, rrf,
       CAST(ROW_NUMBER() OVER (ORDER BY rrf DESC, doc_id) AS INT) AS rank
FROM fused QUALIFY rank <= 20
""",
)
def q530_reciprocal_rank_fusion(spark, sf_dir):
    """RECIPROCAL RANK FUSION (Cormack et al., SIGIR 2009) of a sparse
    and a dense retrieval arm — the hybrid-search standard that RAG
    data pipelines run to mine training corpora: the q116 BM25 keyword
    arm and a q68-style exact-cosine arm (query = vector 0, joined on
    doc_id = vec_id) each contribute 1/(60 + rank) for their
    top-100, absent arms contribute 0 (rank 0 in the output
    marks "not retrieved by this arm"), and the fused top-20 ranks by
    the rounded RRF score with id tie-break. Fusing TRUNCATED lists is
    the published semantics — documents outside both retrieval depths
    are never scored, which is exactly what makes the operator
    scale-free.

    Scale shape: each arm ends in a TakeOrderedAndProject (distributed
    heap top-100, never a corpus-wide rank window); the fusion
    join and every window after it run on <= 2x100 rows. The
    corpus is touched once per arm — BM25's pushed-down term filter and
    the broadcast single-query cosine scan — so 100 TB fuses at the
    cost of two scans plus millisecond tail work."""
    from pyspark.sql import Window as W

    from variantcalling_spark.operators.similarity import cosine_topk

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    emb = load_table(spark, sf_dir, "embeddings")
    bm_top = (
        _bm25_doc_scores(docs)
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(_RRF_DEPTH)
    )
    bm = bm_top.select(
        "doc_id",
        F.row_number()
        .over(W.orderBy(F.col("score").desc(), "doc_id"))
        .alias("r1"),
    )
    em = cosine_topk(
        emb.where(F.col("vec_id") == 0), emb, k=_RRF_DEPTH
    ).select(F.col("cand_id").alias("doc_id"), F.col("rank").alias("r2"))
    one = F.lit(1.0)
    fused = (
        bm.join(em, "doc_id", "full_outer")
        .select(
            "doc_id",
            F.coalesce(F.col("r1"), F.lit(0)).cast("int").alias("bm25_rank"),
            F.coalesce(F.col("r2"), F.lit(0)).cast("int").alias("cos_rank"),
            F.round(
                F.coalesce(one / (F.lit(_RRF_K) + F.col("r1")), F.lit(0.0))
                + F.coalesce(one / (F.lit(_RRF_K) + F.col("r2")), F.lit(0.0)),
                6,
            ).alias("rrf"),
        )
    )
    top = fused.orderBy(F.col("rrf").desc(), "doc_id").limit(20)
    return top.withColumn(
        "rank",
        F.row_number()
        .over(W.orderBy(F.col("rrf").desc(), "doc_id"))
        .cast("int"),
    )
