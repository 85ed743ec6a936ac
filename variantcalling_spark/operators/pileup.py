"""Read-pileup operators: per-base depth from aligned-read intervals and
mpileup-style variant calling from base observations.

Replaces the reference's subprocess boundary ops — ``samtools depth |
awk`` bed emission (``ugvc/pipelines/coverage_analysis.py:653-683``) and
``bcftools mpileup | view -i 'AD/DP >= af'`` calling
(``ugvc/comparison/variant_hit_fraction_caller.py:23-28``) — with
DataFrame plans:

- depth: the classic difference-array — +1 at read start, -1 at read end
  (half-open), cumulative-summed along each chromosome. Output is
  run-length encoded ``(chrom, start, end, depth)`` segments (the exact
  information content of the per-base bed rows, ~read-length x smaller).
- calling: per-position depth / alt-count aggregate + allele-frequency
  filter — a single map-side-combinable groupBy.

The cumulative sum is TWO-LEVEL: per-position deltas are bucketed into
fixed-width position ranges; bucket totals (a tiny table) get an
exclusive running sum per chromosome, which is joined back and added to
the within-bucket running sum. No single window ever spans a whole
chromosome — at 100 TB a per-chrom window would funnel each contig
through one task; bucket partitions stay bounded at any coverage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

DEPTH_BUCKET = 8192


def reads_to_depth_runs(
    reads: DataFrame,
    chrom_col: str = "chrom",
    start_col: str = "start",
    end_col: str = "end",
    bucket: int = DEPTH_BUCKET,
) -> DataFrame:
    """Per-base depth as RLE runs ``(chrom, start, end, depth)`` from
    half-open read intervals ``[start, end)``; depth-0 gaps are omitted.

    Breakpoints with a net delta of zero (a read ends exactly where
    another starts) are dropped before the cumsum, so equal-depth
    neighbors never split — the output is the canonical minimal RLE.
    """
    # both breakpoints of a read come out of one scan of ``reads``
    starts = F.struct(F.col(start_col).cast("long").alias("bp"), F.lit(1).alias("delta"))
    ends = F.struct(F.col(end_col).cast("long").alias("bp"), F.lit(-1).alias("delta"))
    deltas = reads.select(F.col(chrom_col).alias("chrom"), F.inline(F.array(starts, ends)))
    agg = (
        deltas.groupBy("chrom", "bp")
        .agg(F.sum("delta").alias("d"))
        .where(F.col("d") != 0)
        .withColumn("bucket", F.floor(F.col("bp") / bucket))
        # explicit, so the join below infers no filter on one branch only:
        # both branches then reuse this aggregate's exchange (one scan)
        .where(F.col("bucket").isNotNull())
    )

    # level 1: bucket totals -> exclusive prefix along each chromosome
    # (rows = number of occupied buckets; tiny relative to breakpoints)
    btot = agg.groupBy("chrom", "bucket").agg(
        F.sum("d").alias("bd"), F.min("bp").alias("first_bp")
    )
    wb = Window.partitionBy("chrom").orderBy("bucket")
    blev = btot.select(
        "chrom",
        "bucket",
        "first_bp",
        F.coalesce(
            F.sum("bd").over(wb.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0),
        ).alias("prefix"),
        F.lead("first_bp").over(wb).alias("next_bucket_bp"),
    )

    # level 2: within-bucket running sum + the bucket's exclusive prefix
    ww = Window.partitionBy("chrom", "bucket").orderBy("bp")
    runs = (
        agg.join(blev, ["chrom", "bucket"])
        .select(
            "chrom",
            F.col("bp").alias("start"),
            # run end: next breakpoint in this bucket, else the first
            # breakpoint of the next occupied bucket
            F.coalesce(
                F.lead("bp").over(ww), F.col("next_bucket_bp")
            ).alias("end"),
            (
                F.sum("d").over(ww.rowsBetween(Window.unboundedPreceding, 0))
                + F.col("prefix")
            ).alias("depth"),
        )
        .where(F.col("end").isNotNull() & (F.col("depth") > 0))
    )
    return runs


def pileup_call_variants(
    obs: DataFrame,
    min_af: float = 0.25,
    min_dp: int = 8,
    chrom_col: str = "chrom",
    pos_col: str = "pos",
    alt_col: str = "is_alt",
) -> DataFrame:
    """mpileup-style calling from per-read base observations: one
    map-side-combinable aggregate per (chrom, pos) computing depth and
    alt-supporting count, then the ``AD/DP >= min_af`` emission filter
    (`variant_hit_fraction_caller.py:25-27`). Output: (chrom, pos, dp,
    ad, af)."""
    calls = (
        obs.groupBy(F.col(chrom_col).alias("chrom"), F.col(pos_col).alias("pos"))
        .agg(
            F.count(F.lit(1)).alias("dp"),
            F.sum(F.col(alt_col).cast("long")).alias("ad"),
        )
        .where(
            (F.col("dp") >= min_dp)
            & (F.col("ad") / F.col("dp").cast("double") >= min_af)
        )
    )
    return calls.select(
        "chrom",
        "pos",
        "dp",
        "ad",
        F.round(F.col("ad") / F.col("dp").cast("double"), 6).alias("af"),
    )


from variantcalling_spark._serde import register_module_by_value

register_module_by_value(__name__)
