"""The four benchmark pipelines, each driven through the package's public
functions (never the query registry).

Every call into a layer goes through ``ctx.call(span_name, fn, *args)``.
The untraced context (``Direct``) just calls ``fn``, so the timed program
is exactly the user's lazy Spark program; the traced context
(``tracing.Tracer``) times the call plus one materialization of what it
returns. Each pipeline returns plain Python/pandas outputs for the checks;
the last result row reaching the driver (or the last write committing)
ends the iteration.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from gen import BIN_WINDOW, JACCARD_THRESHOLD, MERGE_GQ_THRESHOLD, MIN_MAPQ, REFCALL_GQ_THRESHOLD
from variantcalling_spark.operators import dedup, interval_join, kernels, pileup
from variantcalling_spark.pipelines import coverage, results
from variantcalling_spark.pipelines.evaluate_concordance import evaluate_concordance
from variantcalling_spark.sources import bed, reads, tables, vcf


class Direct:
    """Untraced context: the program as a user runs it."""

    def call(self, name, fn, *args, **kwargs):
        return fn(*args, **kwargs)


def _info(key: str):
    return F.try_element_at(F.col("info"), F.lit(key))


def germline_eval(ctx, spark, inp, out_dir):
    calls = ctx.call("sources.vcf.read", vcf.read_vcf, spark, inp.files["vcf"])
    iv = ctx.call("sources.bed.read", bed.read_bed, spark, inp.files["bed"])
    points = calls.select(
        "chrom",
        "pos",
        F.when(_info("CALL") == "TP", "tp")
        .when(_info("CALL") == "FP", "fp")
        .when(_info("BASE") == "FN", "fn")
        .alias("classify"),
        _info("TREE_SCORE").cast("double").alias("score"),
    )
    annotated = ctx.call(
        "operators.interval_join",
        interval_join.point_in_interval_join,
        points,
        iv.withColumnRenamed("name", "category"),
        "pos",
        keys=["chrom"],
    )
    res = ctx.call("pipelines.evaluate_concordance", evaluate_concordance, annotated)
    return {
        "metrics": res["optimal_recall_precision"].toPandas(),
        "curve": res["recall_precision_curve"].toPandas(),
    }


def coverage_qc(ctx, spark, inp, out_dir):
    intervals = ctx.call(
        "sources.reads.read",
        lambda: reads.sam_to_read_intervals(
            reads.read_sam_flat(spark, inp.files["sam"]), min_mapq=MIN_MAPQ
        ),
    )
    iv = ctx.call("sources.bed.read", bed.read_bed, spark, inp.files["bed"])
    runs = ctx.call("operators.pileup", pileup.reads_to_depth_runs, intervals)
    # per-base depth rows (the `samtools depth` shape the reference bins):
    # dense points for the interval join inside coverage_summary
    per_base = runs.select(
        "chrom", F.explode(F.sequence("start", F.col("end") - 1)).alias("pos"), "depth"
    )
    summary = ctx.call(
        "pipelines.coverage.summary",
        coverage.coverage_summary,
        per_base,
        iv.withColumnRenamed("name", "category"),
        keys=["chrom"],
    )
    bins = ctx.call(
        "pipelines.coverage.bins",
        coverage.window_binned_depth,
        per_base,
        BIN_WINDOW,
        keys=["chrom"],
    )
    return {"summary": summary.toPandas(), "bins": bins.toPandas()}


def _blocks_as_vcf_table(blocks):
    """gVCF blocks -> the canonical variant table ``to_vcf_lines`` takes."""
    return blocks.select(
        "chrom",
        "pos",
        F.lit(None).cast("string").alias("id"),
        F.lit("N").alias("ref"),
        F.when(F.col("is_variant"), F.array(F.lit("N"), F.lit("<ALT>")))
        .otherwise(F.array(F.lit("N"), F.lit("<NON_REF>")))
        .alias("alleles"),
        F.lit(None).cast("double").alias("qual"),
        F.when(F.col("is_variant"), "PASS").otherwise("RefCall").alias("filter"),
        F.create_map(
            F.lit("END"), F.col("stop").cast("string"),
            F.lit("GQ"), F.col("gq").cast("string"),
            F.lit("MIN_DP"), F.col("min_dp").cast("string"),
            F.lit("N_MERGED"), F.col("n_merged").cast("string"),
        ).alias("info"),
    )


def gvcf_archive(ctx, spark, inp, out_dir):
    records = ctx.call("sources.tables.read", tables.load_table, spark, inp.files["tables"], "gvcf")
    blocks = ctx.call(
        "operators.kernels.gvcf",
        kernels.compress_gvcf_blocks,
        records,
        REFCALL_GQ_THRESHOLD,
        MERGE_GQ_THRESHOLD,
    )
    vcf_dir = os.path.join(out_dir, "blocks.vcf")
    ctx.call(
        "sources.vcf.write",
        lambda: vcf.to_vcf_lines(_blocks_as_vcf_table(blocks).orderBy("chrom", "pos"))
        .write.mode("overwrite")
        .text(vcf_dir),
    )
    catalog = os.path.join(out_dir, "catalog")
    ctx.call("pipelines.results.upsert", results.upsert_result, catalog, "blocks", blocks)
    back = ctx.call(
        "pipelines.results.read_latest",
        results.read_result_latest,
        spark,
        catalog,
        "blocks",
        ["chrom", "pos"],
    )
    return {"blocks": back.toPandas(), "vcf_dir": vcf_dir, "catalog_dir": catalog}


def neardup_curation(ctx, spark, inp, out_dir):
    docs = ctx.call(
        "sources.tables.read", tables.load_table, spark, inp.files["tables"], "documents"
    )
    sh = ctx.call("operators.dedup.shingles", dedup.shingles, docs)
    sig = ctx.call("operators.dedup.signatures", dedup.portable_minhash_signatures, sh, 32)
    cand = ctx.call("operators.dedup.candidates", dedup.portable_band_candidates, sig, 8, 4)
    verified = ctx.call(
        "operators.dedup.verify",
        lambda: dedup.jaccard_for_pairs(cand, sh).where(F.col("jaccard") >= JACCARD_THRESHOLD),
    )
    return {"pairs": verified.select("doc_a", "doc_b", "jaccard").toPandas()}


PIPELINES = {
    "germline_eval": germline_eval,
    "coverage_qc": coverage_qc,
    "gvcf_archive": gvcf_archive,
    "neardup_curation": neardup_curation,
}

# A workload iteration runs its pipelines back to back. Two workloads of two
# pipelines each, rather than four of one: every run pays ~30 s of JVM start
# and warm-up iterations, so fewer, longer runs give steadier medians for
# the same total time. The sparse (germline) and the dense (coverage) interval
# joins sit in different workloads, so a join change tuned for one point
# density shows its cost on the other workload's own timer and spans.
WORKLOADS = {
    # VCF + BED (sparse points), then the Arrow kernel and the write path
    "germline_archive": ("germline_eval", "gvcf_archive"),
    # SAM + the same BED (dense points), then the dedup self-joins
    "coverage_curation": ("coverage_qc", "neardup_curation"),
}

# calls the package makes into another layer, wrapped (from outside) in
# the traced run: module, attribute, span name
NESTED_CALLS = [(coverage, "point_in_interval_join", "operators.interval_join")]
