"""Concordance metrics: confusion aggregates and PR curves (SURVEY.md §2.4, §2.5).

Re-expresses the reference's accuracy machinery —
`ugvc/reports/report_utils.py:449-505` and the scalar kernels in
`ugvc/utils/stats_utils.py:76-210` (pinned by
`test/unit/utils/test_stats_utils.py`) — as single-pass DataFrame plans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F


def confusion_counts(df: DataFrame, label_col: str, group_cols: list[str] | None = None) -> DataFrame:
    """tp/fp/fn counts + precision/recall/F1 per group.

    `report_utils.py:449-468` + `stats_utils.get_precision/get_recall/get_f1`
    (`stats_utils.py:76-138`). One `sum(when(...))` pass; the scalar math
    is exact-int division (deterministic doubles).
    """
    group_cols = group_cols or []
    base = df.groupBy(*group_cols).agg(
        F.count(F.when(F.col(label_col) == "tp", 1)).alias("tp"),
        F.count(F.when(F.col(label_col) == "fp", 1)).alias("fp"),
        F.count(F.when(F.col(label_col) == "fn", 1)).alias("fn"),
    )
    precision = F.col("tp") / (F.col("tp") + F.col("fp")).cast("double")
    recall = F.col("tp") / (F.col("tp") + F.col("fn")).cast("double")
    f1 = 2 * precision * recall / (precision + recall)
    return base.select(*group_cols, "tp", "fp", "fn",
                       precision.alias("precision"),
                       recall.alias("recall"),
                       f1.alias("f1"))


def pr_curve(
    df: DataFrame,
    score_col: str,
    label_col: str,
    group_cols: list[str] | None = None,
    bucket_width: float = 16.0,
) -> DataFrame:
    """Precision/recall curve over score thresholds (two-level cumsum).

    Re-expresses `report_utils.py:493-505`: sort by score descending,
    running tp/fp counts give precision/recall at each threshold
    ("call everything with score >= t positive"). FNs at a threshold =
    ground-truth positives not yet called = total_tp - cum_tp + base_fn.

    Rows are pre-aggregated per distinct score so the curve is
    deterministic under ties (the reference's row-wise cumsum is
    order-dependent within a tied score; grouping by threshold is the
    well-defined variant).

    The cumulative sums are BUCKETED (VERDICT r6 ask #2): a plain
    unpartitioned window over distinct scores degenerates to a
    single-partition sort for continuous scores at 100x. Instead:
    per-(group, score-bucket) partial sums -> an exclusive descending
    prefix over the TINY bucket relation -> bucket-LOCAL cumulative
    windows, so no task ever sorts a whole group's curve. The group's
    total tp is a whole-frame sum in the same window as the prefix, so
    the curve needs no second aggregate or join. Exactness is
    unchanged for any ``bucket_width`` (callers pick it to match the
    score range; scores must be non-null).
    """
    group_cols = group_cols or []
    per_score = df.groupBy(*group_cols, score_col).agg(
        F.count(F.when(F.col(label_col) == "tp", 1)).alias("n_tp"),
        F.count(F.when(F.col(label_col) == "fp", 1)).alias("n_fp"),
    ).withColumn(
        "__bk", F.floor(F.col(score_col) / F.lit(bucket_width)).cast("bigint")
    )
    bsum = per_score.groupBy(*group_cols, "__bk").agg(
        F.sum("n_tp").alias("__bt"), F.sum("n_fp").alias("__bf")
    )
    w_pre = (
        W.partitionBy(*group_cols)
        .orderBy(F.desc("__bk"))
        .rowsBetween(W.unboundedPreceding, -1)
    )
    pre = bsum.select(
        *group_cols,
        "__bk",
        F.coalesce(F.sum("__bt").over(w_pre), F.lit(0)).alias("__pre_tp"),
        F.coalesce(F.sum("__bf").over(w_pre), F.lit(0)).alias("__pre_fp"),
        F.sum("__bt")
        .over(w_pre.rowsBetween(W.unboundedPreceding, W.unboundedFollowing))
        .alias("tot_tp"),
    )
    w_loc = (
        W.partitionBy(*group_cols, "__bk")
        .orderBy(F.desc(score_col))
        .rowsBetween(W.unboundedPreceding, 0)
    )
    cum = per_score.join(F.broadcast(pre), [*group_cols, "__bk"]).withColumn(
        "cum_tp", F.col("__pre_tp") + F.sum("n_tp").over(w_loc)
    ).withColumn("cum_fp", F.col("__pre_fp") + F.sum("n_fp").over(w_loc))
    # a leading threshold bucket can hold only fn rows -> cum_tp+cum_fp=0;
    # precision is undefined (NULL) there, not a division error
    precision = F.when(
        (F.col("cum_tp") + F.col("cum_fp")) > 0,
        F.col("cum_tp") / (F.col("cum_tp") + F.col("cum_fp")).cast("double"),
    )
    recall = F.when(F.col("tot_tp") > 0, F.col("cum_tp") / F.col("tot_tp").cast("double"))
    f1 = 2 * precision * recall / (precision + recall)
    return cum.select(
        *group_cols,
        F.col(score_col).alias("threshold"),
        "cum_tp",
        "cum_fp",
        (F.col("tot_tp") - F.col("cum_tp")).alias("cum_fn"),
        precision.alias("precision"),
        recall.alias("recall"),
        F.when(F.col("cum_tp") > 0, f1).otherwise(F.lit(0.0)).alias("f1"),
    )
