"""Ordered / window operators (SURVEY.md §2.5).

The reference implements these as sequential per-record Python scans over
sorted VCF/BED streams. All but two (the gVCF kernels in
``operators/kernels.py``) are pure window functions: they partition by
contig-like keys and scale horizontally — no driver-side iteration.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F


def running_extent_dedup(
    df: DataFrame,
    part_cols: list[str],
    order_cols: list[str],
    start_col: str = "start",
    end_col: str = "end",
    keep_col: str = "kept",
) -> DataFrame:
    """Mark rows overlapped by the running extent of earlier rows.

    Re-expresses the gVCF->BED dedup (`ugvc/joint/gvcf_bed.py:38-69`,
    pinned skipped==241 `test/unit/joint/test_gvcf_bed.py:13-31`): a row
    is kept iff its start is >= the max end of all earlier rows in the
    same partition — `max(end) OVER (... ROWS UNBOUNDED PRECEDING TO -1)`,
    a pure window function (no sequential kernel needed).
    """
    w = (
        W.partitionBy(*part_cols)
        .orderBy(*order_cols)
        .rowsBetween(W.unboundedPreceding, -1)
    )
    prev_max_end = F.max(F.col(end_col)).over(w)
    return df.withColumn(
        keep_col,
        F.coalesce(F.col(start_col) >= prev_max_end, F.lit(True)),
    )


def merge_intervals(
    df: DataFrame,
    part_cols: list[str],
    start_col: str = "start",
    end_col: str = "end",
) -> DataFrame:
    """Union-of-overlaps interval merge (gaps-and-islands).

    `bedtools merge` / pybedtools `.merge()` (`gvcf_hcr_main.py:30-33`,
    `test/unit/joint/test_gvcf_bed.py:18-20`): a new island starts where
    start > running max(end) of all earlier intervals; island id is the
    running count of such breaks; merged interval = (min(start), max(end))
    per island. Two window passes + one groupBy, partitioned by contig.
    """
    w_prev = (
        W.partitionBy(*part_cols)
        .orderBy(start_col, end_col)
        .rowsBetween(W.unboundedPreceding, -1)
    )
    w_run = (
        W.partitionBy(*part_cols)
        .orderBy(start_col, end_col)
        .rowsBetween(W.unboundedPreceding, 0)
    )
    prev_max = F.max(end_col).over(w_prev)
    with_break = df.withColumn(
        "__is_break",
        F.when(prev_max.isNull() | (F.col(start_col) > prev_max), 1).otherwise(0),
    )
    with_island = with_break.withColumn("__island", F.sum("__is_break").over(w_run))
    return (
        with_island.groupBy(*part_cols, "__island")
        .agg(
            F.min(start_col).alias(start_col),
            F.max(end_col).alias(end_col),
            F.count(F.lit(1)).alias("n_merged"),
        )
        .drop("__island")
    )


def every_nth(
    df: DataFrame, part_cols: list[str], order_cols: list[str], n: int
) -> DataFrame:
    """Every-nth-row downsample: `df.iloc[::space]`
    (`coverage_analysis.py:1154-1156`) as `(row_number()-1) % n == 0`."""
    w = W.partitionBy(*part_cols).orderBy(*order_cols)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where((F.col("__rn") - 1) % n == 0)
        .drop("__rn")
    )


def histogram_percentiles(
    df: DataFrame,
    value_col: str,
    group_cols: list[str],
    quantiles: list[float],
) -> DataFrame:
    """Exact percentiles via histogram-CDF, the reference's own method.

    `generate_stats_from_histogram` (`coverage_analysis.py:522,960-996`)
    computes quantiles from a depth histogram rather than sorting raw
    values. Here: group counts per distinct value -> running cumulative
    count -> per quantile q, the smallest value whose CDF reaches
    ceil(q * n). Deterministic (no interpolation), dialect-portable, and
    one shuffle on (group, value) — scales to per-base depth tables.
    """
    return histogram_cdf(df, value_col, group_cols).groupBy(*group_cols).agg(
        *cdf_percentiles(value_col, quantiles)
    )


def histogram_cdf(df: DataFrame, value_col: str, group_cols: list[str]) -> DataFrame:
    """The (group, value) histogram behind ``histogram_percentiles``:
    one row per distinct value with its count ``__cnt``, running count
    ``__cum`` and group total ``__tot``. Aggregate it per group with
    ``cdf_percentiles`` and any other histogram statistic."""
    hist = df.groupBy(*group_cols, value_col).agg(F.count(F.lit(1)).alias("__cnt"))
    w_cum = (
        W.partitionBy(*group_cols)
        .orderBy(value_col)
        .rowsBetween(W.unboundedPreceding, 0)
    )
    w_tot = W.partitionBy(*group_cols)
    return hist.withColumn("__cum", F.sum("__cnt").over(w_cum)).withColumn(
        "__tot", F.sum("__cnt").over(w_tot)
    )


def cdf_percentiles(value_col: str, quantiles: list[float]) -> list:
    """Per quantile q, the ``p{q}`` aggregate over a ``histogram_cdf``
    frame: the smallest value whose CDF reaches ceil(q * n)."""
    return [
        F.min(
            F.when(F.col("__cum") >= F.ceil(F.lit(q) * F.col("__tot")), F.col(value_col))
        ).alias(f"p{int(round(q * 100)):02d}")
        for q in quantiles
    ]


def weighted_quantile_windowed(
    w: DataFrame,
    quantiles: list[tuple[int, int]],
    group_cols: list[str],
    value_col: str = "value",
    weight_col: str = "wt",
    tie_col: str = "doc_id",
) -> DataFrame:
    """Exact weighted quantiles via one ordered window per group (the
    q163 shape): for each (num, den) pick the min value whose ordered
    cumulative weight satisfies cumw*den >= tot*num. Integer weights +
    deterministic (value, tie) order make every pick bit-reproducible.
    Right while per-group row counts fit a task's sort."""
    wo = (
        W.partitionBy(*group_cols)
        .orderBy(value_col, tie_col)
        .rowsBetween(W.unboundedPreceding, 0)
    )
    wt_all = W.partitionBy(*group_cols)
    cum = w.select(
        *group_cols,
        value_col,
        F.sum(weight_col).over(wo).alias("__cumw"),
        F.sum(weight_col).over(wt_all).alias("__totw"),
    )
    aggs = [F.max("__totw").cast("bigint").alias("total_weight")]
    for num, den in quantiles:
        aggs.append(
            F.min(
                F.when(
                    F.col("__cumw") * den >= F.col("__totw") * num, F.col(value_col)
                )
            )
            .cast("bigint")
            .alias(f"q{num}_{den}")
        )
    return cum.groupBy(*group_cols).agg(*aggs)


def distributed_row_number(
    df: DataFrame,
    order_cols: list,
    bucket_col,
    out_col: str = "rn",
) -> DataFrame:
    """Global ``row_number() OVER (ORDER BY order_cols)`` without the
    single-partition Window straggler (SCALE.md:134-139).

    ``bucket_col`` must be a column expression that is a *monotone
    non-decreasing coarsening of the leading sort key* (e.g.
    ``floor(value / w)`` for an ascending sort on ``value``, or the
    negated value for a descending sort on an integer key). Then:

    1. per-bucket row counts — map-side combinable, bucket-domain-sized;
    2. an exclusive prefix sum over the TINY bucket relation gives each
       bucket its global rank offset;
    3. a bucket-LOCAL window assigns within-bucket row numbers — every
       task sorts one bucket, never the whole relation.

    Output equality with the windowed form is pinned in tests.
    """
    b = df.withColumn("__rnb", bucket_col)
    cnts = b.groupBy("__rnb").agg(F.count(F.lit(1)).alias("__c"))
    w_pre = W.orderBy("__rnb").rowsBetween(W.unboundedPreceding, -1)
    pre = cnts.select(
        "__rnb", F.coalesce(F.sum("__c").over(w_pre), F.lit(0)).alias("__pre")
    )
    w_loc = W.partitionBy("__rnb").orderBy(*order_cols)
    return (
        b.join(F.broadcast(pre), "__rnb")
        .withColumn(out_col, F.col("__pre") + F.row_number().over(w_loc))
        .drop("__rnb", "__pre")
    )


def ranged_row_number(
    df: DataFrame,
    order_cols: list,
    out_col: str = "rn",
    num_partitions: int | None = None,
) -> DataFrame:
    """Global ``row_number() OVER (ORDER BY order_cols)`` with
    DATA-DRIVEN balanced buckets — the skew-proof sibling of
    :func:`distributed_row_number`.

    ``distributed_row_number`` needs a caller-supplied monotone
    coarsening of the leading key; a STATIC coarsening of a skewed
    domain (e.g. first character of natural-language text, where ~15%
    of English suffixes start with "t") leaves one task sorting the
    biggest bucket. Here the buckets are Spark's range-exchange sample
    boundaries over the FULL composite key instead: near-equal
    populations by construction, regardless of key distribution, so
    the worst task sorts ~rows/num_partitions at any scale.

    1. ``repartitionByRange`` over ``order_cols`` (sampled balanced
       boundaries, ascending partition index == ascending key range);
    2. ``spark_partition_id()`` captured as the bucket id (narrow),
       then a junction ``lineage_cut`` so the exchanged relation is
       materialized once for both consumers;
    3. per-bucket counts -> exclusive prefix sum over the TINY
       (num_partitions)-row relation -> broadcast offsets;
    4. a bucket-LOCAL window assigns within-bucket row numbers.

    The rn output is partitioning-independent whenever ``order_cols``
    totally order the rows (ties would get arbitrary-but-stable-within-
    run numbering, like any row_number over ties); equality with the
    single-window form is pinned in tests.
    """
    from variantcalling_spark._persist import lineage_cut

    n = int(
        num_partitions
        or df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
    )
    rp = (
        df.repartitionByRange(n, *order_cols)
        .withColumn("__rrn_pid", F.spark_partition_id())
        .transform(lineage_cut)
    )
    cnts = rp.groupBy("__rrn_pid").agg(F.count(F.lit(1)).alias("__c"))
    w_pre = W.orderBy("__rrn_pid").rowsBetween(W.unboundedPreceding, -1)
    pre = cnts.select(
        "__rrn_pid", F.coalesce(F.sum("__c").over(w_pre), F.lit(0)).alias("__pre")
    )
    w_loc = W.partitionBy("__rrn_pid").orderBy(*order_cols)
    return (
        rp.join(F.broadcast(pre), "__rrn_pid")
        .withColumn(
            out_col, (F.col("__pre") + F.row_number().over(w_loc)).cast("bigint")
        )
        .drop("__rrn_pid", "__pre")
    )


def value_at_rank_bucketed(
    df: DataFrame,
    value_col: str,
    ranks: DataFrame,
    rank_col: str = "k",
    bucket_width: float = 1.0,
    descending: bool = False,
) -> DataFrame:
    """The value at global rank ``k`` of ``df[value_col]`` (1-based,
    ascending or descending) for every k in the small ``ranks`` relation
    — without sorting the whole column in one task.

    Because only the VALUE at the rank is returned, tie-break columns
    are irrelevant (all rows tied at the crossing rank share the value),
    so the exact answer needs only a per-distinct-value CDF:

    1. per-(bucket) counts — one map-side-combinable aggregate;
    2. prefix sums over the TINY bucket relation find each k's crossing
       bucket and its rank offset;
    3. only the crossing bucket's rows are re-scanned (equi-join on
       bucket) with a bucket-LOCAL cumulative count over distinct
       values.

    Returns ``ranks`` columns + ``value_at_rank``. Contract: every row
    of ``ranks`` comes back exactly once — a rank k beyond the total row
    count (no crossing bucket exists) returns ``value_at_rank = NULL``
    rather than silently dropping the row, so a caller bug surfaces as
    a visible NULL instead of a missing output row (r7 ADVICE). Used by
    the q333 median and the q225 tranche thresholds (VERDICT r6 fix #1).
    """
    sign = -1 if descending else 1
    bkt = F.floor(F.col(value_col) * sign / F.lit(bucket_width)).cast("bigint")
    b = df.select(F.col(value_col).alias("__v"), bkt.alias("__bk"))
    cnts = b.groupBy("__bk").agg(F.count(F.lit(1)).alias("__c"))
    w_cum = W.orderBy("__bk").rowsBetween(W.unboundedPreceding, 0)
    cum = cnts.select(
        "__bk",
        F.sum("__c").over(w_cum).alias("__cumb"),
        (F.sum("__c").over(w_cum) - F.col("__c")).alias("__pre"),
    )
    crossing = (
        ranks.join(F.broadcast(cum), F.col("__cumb") >= F.col(rank_col))
        .groupBy(*ranks.columns)
        .agg(F.min("__bk").alias("__bk"))
        .join(F.broadcast(cum.select("__bk", "__pre")), "__bk")
    )
    # bucket-local distinct-value CDF; each window covers ONE bucket —
    # partitioned ALSO by the rank identity, since two ranks crossing in
    # the same bucket would otherwise double-count the joined copies
    vals = b.groupBy("__bk", "__v").agg(F.count(F.lit(1)).alias("__cv"))
    w_loc = (
        W.partitionBy("__bk", *ranks.columns)
        .orderBy(F.col("__v").asc() if not descending else F.col("__v").desc())
        .rowsBetween(W.unboundedPreceding, 0)
    )
    picked = (
        vals.join(F.broadcast(crossing), "__bk")
        .withColumn("__cum", F.col("__pre") + F.sum("__cv").over(w_loc))
        .where(F.col("__cum") >= F.col(rank_col))
        .groupBy(*ranks.columns)
        .agg(
            (F.min("__v") if not descending else F.max("__v")).alias(
                "value_at_rank"
            )
        )
    )
    # restore ranks with no crossing bucket (k > total rows) as NULL
    return ranks.join(picked, list(ranks.columns), "left")


def ntile_expr(rn, n, k: int):
    """``NTILE(k)`` as pure rank arithmetic: with q = n DIV k and
    r = n MOD k, the first r tiles hold q+1 rows and the rest q, so
    tile(rn) is a closed form of the global row number — computed here
    from a `distributed_row_number` rank instead of a single-partition
    NTILE window. Matches SQL NTILE exactly under any total order."""
    q = F.floor(n / k).cast("bigint")
    r = (n % k).cast("bigint")
    head = r * (q + 1)
    return (
        F.when(rn <= head, F.floor((rn + q) / (q + 1)))
        .otherwise(r + F.floor((rn - head + q - 1) / q))
        .cast("int")
    )


def weighted_quantile_bucketed(
    w: DataFrame,
    quantiles: list[tuple[int, int]],
    group_cols: list[str],
    value_col: str = "value",
    weight_col: str = "wt",
    tie_col: str = "doc_id",
    bucket_width: int = 16,
) -> DataFrame:
    """``weighted_quantile_windowed`` decomposed for petabyte groups —
    the two-phase form q163's docstring promises (same recipe as
    ``histogram_percentiles`` and the pileup two-level cumsum):

    1. per-(group, value-bucket) weight sums — map-side combinable, ONE
       full-data shuffle sized by the bucket domain, never a full-group
       sort;
    2. bucket-level prefix sums over the TINY bucket relation find the
       crossing bucket for each quantile;
    3. only the crossing bucket's rows are re-scanned (equi-join on
       (group, bucket)) with a bucket-LOCAL ordered window — each
       window covers one bucket's rows, so no task ever sorts a whole
       group.

    Output equality with the windowed form is pinned in tests (same
    thresholds, same (value, tie) order, integer arithmetic
    throughout)."""
    wb = w.withColumn("__bk", F.expr(f"{value_col} DIV {bucket_width}"))
    b = wb.groupBy(*group_cols, "__bk").agg(F.sum(weight_col).alias("__bw"))
    wo_b = W.partitionBy(*group_cols).orderBy("__bk")
    b = b.select(
        *group_cols,
        "__bk",
        (F.sum("__bw").over(wo_b.rowsBetween(W.unboundedPreceding, 0)) - F.col("__bw"))
        .alias("__pre"),
        F.sum("__bw").over(wo_b.rowsBetween(W.unboundedPreceding, 0)).alias("__cumb"),
        F.sum("__bw")
        .over(W.partitionBy(*group_cols))
        .alias("__totw"),
    )
    out = None
    for num, den in quantiles:
        crossing = (
            b.where(F.col("__cumb") * den >= F.col("__totw") * num)
            .groupBy(*group_cols)
            .agg(
                F.min("__bk").alias("__bk"),
                F.max("__totw").alias("__totw"),
            )
            .join(
                b.select(*group_cols, "__bk", "__pre"), [*group_cols, "__bk"]
            )
        )
        local = W.partitionBy(*group_cols, "__bk").orderBy(
            value_col, tie_col
        ).rowsBetween(W.unboundedPreceding, 0)
        picked = (
            wb.join(crossing, [*group_cols, "__bk"])
            .withColumn("__cumw", F.col("__pre") + F.sum(weight_col).over(local))
            .where(F.col("__cumw") * den >= F.col("__totw") * num)
            .groupBy(*group_cols)
            .agg(
                F.max("__totw").cast("bigint").alias("total_weight"),
                F.min(value_col).cast("bigint").alias(f"q{num}_{den}"),
            )
        )
        if out is None:
            out = picked
        else:
            out = out.join(
                picked.drop("total_weight"), group_cols, "inner"
            )
    return out
