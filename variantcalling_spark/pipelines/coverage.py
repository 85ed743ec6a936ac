"""Coverage-analysis pipeline (SURVEY.md §3.3).

Reference flow (`ugvc/pipelines/coverage_analysis.py:412-594`): per-region
depth scan fan-out -> interval-join histograms per annotation category ->
concat + groupby + percentiles -> hierarchical window binning.

Spark collapses the region x interval-file product into ONE plan: depth
table -> broadcast range join against the unioned interval table (category
column) -> histogram aggregation -> percentile extraction; window binning
is a direct groupBy on floor(pos/w). No fan-out orchestration: Catalyst
parallelizes the single declarative plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from variantcalling_spark.operators.interval_join import point_in_interval_join
from variantcalling_spark.operators.ordered import cdf_percentiles, histogram_cdf


def coverage_summary(
    depth: DataFrame,
    intervals: DataFrame,
    depth_col: str = "depth",
    pos_col: str = "pos",
    keys: list[str] | None = None,
    start_col: str = "start",
    end_col: str = "end",
    quantiles: list[float] = (0.05, 0.25, 0.5, 0.75, 0.95),
) -> DataFrame:
    """Per-category depth statistics: count, exact decimal mean, and
    histogram-CDF percentiles — `coverage_analysis.py:491-534,960-996`.

    All three come from one (category, depth) histogram, as in the
    reference's ``generate_stats_from_histogram``: ``n_positions`` is
    the summed count, and the mean's DECIMAL sum of depth x count is
    exact, so it equals the per-row decimal sum."""
    annotated = point_in_interval_join(
        depth, intervals, pos_col, keys=keys, start_col=start_col, end_col=end_col
    )
    n = F.sum("__cnt")
    mean = F.sum(F.col(depth_col).cast("decimal(12,2)") * F.col("__cnt")).cast("double") / n
    return histogram_cdf(annotated, depth_col, ["category"]).groupBy("category").agg(
        n.alias("n_positions"), mean.alias("mean_depth"), *cdf_percentiles(depth_col, quantiles)
    )


def window_binned_depth(
    depth: DataFrame,
    window: int,
    pos_col: str = "pos",
    depth_col: str = "depth",
    keys: list[str] | None = None,
) -> DataFrame:
    """Fixed-window mean depth — the awk binning kernel
    (`coverage_analysis.py:830-837`) as `groupBy(floor(pos/w))`; any
    window size computes directly from base rows (the reference's
    hierarchical re-aggregation is unnecessary under Spark, SURVEY.md §4).
    """
    keys = keys or []
    return (
        depth.groupBy(
            *keys, F.expr(f"{pos_col} DIV {window}").alias("window_id")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            (
                F.sum(F.col(depth_col).cast("decimal(12,2)")).cast("double")
                / F.count(F.lit(1))
            ).alias("mean_depth"),
            F.min(pos_col).alias("win_start"),
            F.max(pos_col).alias("win_end"),
        )
    )
