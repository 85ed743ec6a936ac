"""Interval (range) join operators.

The reference engine does every genomic interval operation by shelling out
to bedtools/bcftools (`bedtools intersect` `ugvc/pipelines/coverage_analysis.py:732-738`,
`quick_fingerprinter.py:57-58`; `bedtools subtract`
`create_somatic_gt_file.py:273-292`) or by linear per-record scans
(`in_regions` `convert_haploid_regions.py:26-35`). Here they are Spark
DataFrame patterns with two physical strategies:

- **broadcast**: annotation interval sets (LCR / exome / mappability BEDs)
  are small; broadcast them and let the range predicate evaluate inside
  whole-stage codegen. The big side never shuffles. This is the default.

- **bucketed**: for large x large interval joins a naive range join is
  O(n*m) (Spark falls back to BroadcastNestedLoopJoin). Mapping both
  sides to fixed-width buckets turns it into an equi-join on
  (group, bucket) + residual refine — a shuffle hash/sort-merge join that
  scales linearly and partitions evenly at 100 TB. A point lands in
  exactly one bucket, so each (point, interval) pair is produced at most
  once: no post-join dedup is needed.

Conventions: intervals are half-open [start, end) like BED; ``keys`` are
the equi-join columns (e.g. ["chrom"]).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from variantcalling_spark._persist import lineage_cut


def _overlap_cond(point: Column, start: Column, end: Column) -> Column:
    return (point >= start) & (point < end)


def point_in_interval_join(
    points: DataFrame,
    intervals: DataFrame,
    point_col: str,
    keys: list[str] | None = None,
    start_col: str = "start",
    end_col: str = "end",
    how: str = "inner",
    broadcast_intervals: bool = True,
) -> DataFrame:
    """Join point rows to the intervals containing them.

    ``how``: "inner" (annotate, duplicating points in overlapping
    intervals — `bedtools intersect -wa -wb`), "left_semi"
    (`bedtools intersect -u`), "left_anti" (`bedtools subtract` for
    points / `bcftools isec -C`).
    """
    keys = keys or []
    iv = F.broadcast(intervals) if broadcast_intervals else intervals
    cond = _overlap_cond(points[point_col], iv[start_col], iv[end_col])
    for k in keys:
        cond = cond & (points[k] == iv[k])
    joined = points.join(iv, cond, how)
    if how in ("left_semi", "left_anti"):
        return joined
    # drop duplicated key columns from the interval side
    return joined.drop(*[iv[k] for k in keys])


def bucketed_point_in_interval_join(
    points: DataFrame,
    intervals: DataFrame,
    point_col: str,
    bucket_width: int,
    keys: list[str] | None = None,
    start_col: str = "start",
    end_col: str = "end",
) -> DataFrame:
    """Large x large point-in-interval join via fixed-width bucketing.

    Each interval explodes to the buckets it spans
    (`sequence(floor(start/B), floor((end-1)/B))`); each point maps to its
    single bucket; the equi-join on (keys..., bucket) shuffle-partitions
    both sides evenly, then the exact range predicate refines. Interval
    explosion factor = avg_interval_len / B + 1, so pick B near the median
    interval length.
    """
    keys = keys or []
    # integer DIV, not float division: genomic/ns positions can exceed 2^53
    iv = intervals.withColumn(
        "__bucket",
        F.explode(
            F.sequence(
                F.expr(f"{start_col} DIV {bucket_width}"),
                F.expr(f"({end_col} - 1) DIV {bucket_width}"),
            )
        ),
    )
    pts = points.withColumn("__bucket", F.expr(f"{point_col} DIV {bucket_width}"))
    cond = pts["__bucket"] == iv["__bucket"]
    for k in keys:
        cond = cond & (pts[k] == iv[k])
    cond = cond & _overlap_cond(pts[point_col], iv[start_col], iv[end_col])
    return pts.join(iv, cond, "inner").drop(iv["__bucket"]).drop(
        *[iv[k] for k in keys]
    ).drop("__bucket")


def interval_overlap_join(
    a: DataFrame,
    b: DataFrame,
    keys: list[str] | None = None,
    start_col: str = "start",
    end_col: str = "end",
    broadcast_b: bool = True,
    suffix: str = "_b",
) -> DataFrame:
    """Interval x interval overlap join producing intersection segments.

    Re-expresses `intersect_bed_files` (`vcfeval_flavors.py:108-112`) and
    interval-dictionary intersection (`training_set_consistency_check.py:
    106-109`): overlap iff a.start < b.end AND b.start < a.end; the
    intersection segment is [greatest(starts), least(ends)).
    """
    keys = keys or []
    bb = b.select(
        *keys,
        F.col(start_col).alias(f"{start_col}{suffix}"),
        F.col(end_col).alias(f"{end_col}{suffix}"),
        *[c for c in b.columns if c not in keys + [start_col, end_col]],
    )
    bb = F.broadcast(bb) if broadcast_b else bb
    cond = (a[start_col] < bb[f"{end_col}{suffix}"]) & (
        bb[f"{start_col}{suffix}"] < a[end_col]
    )
    for k in keys:
        cond = cond & (a[k] == bb[k])
    out = a.join(bb, cond, "inner")
    out = out.withColumn(
        "overlap_start", F.greatest(a[start_col], bb[f"{start_col}{suffix}"])
    ).withColumn("overlap_end", F.least(a[end_col], bb[f"{end_col}{suffix}"]))
    return out.drop(*[bb[k] for k in keys])


def count_bases(intervals: DataFrame, group_cols: list[str] | None = None,
                start_col: str = "start", end_col: str = "end") -> DataFrame:
    """Total covered length Σ(end-start) — `count_bases_in_bed_file`
    (call `run_no_gt_report.py:281`, pinned `test_gvcf_bed.py:19-20`).
    Assumes non-overlapping (merged) intervals, like the reference."""
    agg = F.sum(F.col(end_col) - F.col(start_col)).alias("n_bases")
    if group_cols:
        return intervals.groupBy(*group_cols).agg(agg)
    return intervals.agg(agg)


def bucketed_closest(
    points: DataFrame,
    intervals: DataFrame,
    point_col: str,
    bucket_width: int,
    keys: list[str] | None = None,
    start_col: str = "start",
    end_col: str = "end",
    id_col: str = "iv_id",
    max_rounds: int = 8,
) -> DataFrame:
    """Exact nearest-interval lookup with bounded join fan-out (the
    scale path for `bedtools closest` when the interval side is too
    large to broadcast).

    Round k probes the buckets within radius r_k = 2^k of each point's
    bucket (an equi-join on (keys..., bucket)); a candidate at distance
    d is provably the global nearest once d < r_k * bucket_width —
    any interval outside the probed span is at least that far away.
    Unresolved points escalate to the next radius; each point joins
    O(2^k) buckets only in the round it resolves, so dense regions
    resolve in round 0 at ~3 buckets per point. Exactness vs the
    broadcast argmin is pinned in tests.
    """
    keys = keys or []
    iv = intervals.withColumn(
        "__bucket",
        F.explode(
            F.sequence(
                F.expr(f"{start_col} DIV {bucket_width}"),
                F.expr(f"({end_col} - 1) DIV {bucket_width}"),
            )
        ),
    )
    unresolved = points.withColumn(
        "__pb", F.expr(f"{point_col} DIV {bucket_width}")
    )
    out = None
    radius = 1
    for _ in range(max_rounds):
        probes = unresolved.withColumn(
            "__bucket",
            F.explode(F.sequence(F.col("__pb") - radius, F.col("__pb") + radius)),
        )
        cond = probes["__bucket"] == iv["__bucket"]
        for k in keys:
            cond = cond & (probes[k] == iv[k])
        dist = (
            F.when(
                (probes[point_col] >= iv[start_col])
                & (probes[point_col] < iv[end_col]),
                F.lit(0),
            )
            .when(probes[point_col] < iv[start_col], iv[start_col] - probes[point_col])
            .otherwise(probes[point_col] - iv[end_col] + 1)
        )
        scored = (
            probes.join(iv, cond, "inner")
            .select(
                *[probes[c] for c in unresolved.columns],
                iv[id_col].alias("__iv"),
                dist.alias("__dist"),
            )
            .groupBy(*[F.col(c) for c in unresolved.columns])
            .agg(
                F.min_by("__iv", F.struct("__dist", "__iv")).alias(id_col),
                F.min("__dist").alias("dist"),
            )
        )
        resolved = scored.where(F.col("dist") < radius * bucket_width).drop("__pb")
        out = resolved if out is None else out.unionByName(resolved)
        done_keys = scored.where(
            F.col("dist") < radius * bucket_width
        ).select(*[F.col(c) for c in unresolved.columns])
        unresolved = unresolved.join(
            done_keys, on=unresolved.columns, how="left_anti"
        ).transform(lineage_cut, eager=True)
        if not unresolved.take(1):
            break
        radius *= 2
    # stragglers past max_rounds (pathologically sparse): exact fallback
    if unresolved.take(1):
        cond = F.lit(True)
        for k in keys:
            cond = cond & (unresolved[k] == intervals[k])
        dist = (
            F.when(
                (unresolved[point_col] >= intervals[start_col])
                & (unresolved[point_col] < intervals[end_col]),
                F.lit(0),
            )
            .when(
                unresolved[point_col] < intervals[start_col],
                intervals[start_col] - unresolved[point_col],
            )
            .otherwise(unresolved[point_col] - intervals[end_col] + 1)
        )
        rest = (
            unresolved.join(F.broadcast(intervals), cond)
            .select(
                *[unresolved[c] for c in unresolved.columns],
                intervals[id_col].alias("__iv"),
                dist.alias("__dist"),
            )
            .groupBy(*[F.col(c) for c in unresolved.columns])
            .agg(
                F.min_by("__iv", F.struct("__dist", "__iv")).alias(id_col),
                F.min("__dist").alias("dist"),
            )
            .drop("__pb")
        )
        out = rest if out is None else out.unionByName(rest)
    return out


def choose_bucket_width(
    intervals: DataFrame,
    start_col: str = "start",
    end_col: str = "end",
    rel_error: float = 0.05,
) -> int:
    """Statistics-driven bucket width for the bucketed range joins — the
    dial the docstring above tells callers to pick by hand, chosen from
    the data instead (ROADMAP item 1, in operator form rather than a
    Catalyst strategy plug-in: the choice is the whole optimization).

    Width = the interval-length MEDIAN (approx-quantile sketch — one
    lightweight pass, no sort), clamped to a power of two for stable
    bucket arithmetic. Rationale: explosion factor is
    avg_len / B + 1 ≤ ~2 for B ≥ median while bucket occupancy — the
    per-bucket join fan-in — shrinks linearly in B, so the median is the
    knee of the cost curve. Callers with replicated runs should cache the
    result; at 100 TB the quantile sketch is a map-side-combinable
    aggregate over one long column.
    """
    q = intervals.selectExpr(f"{end_col} - {start_col} AS __len").approxQuantile(
        "__len", [0.5], rel_error
    )
    median = max(int(q[0]), 1)
    width = 1
    while width < median:
        width <<= 1
    return width


def auto_bucketed_point_in_interval_join(
    points: DataFrame,
    intervals: DataFrame,
    point_col: str,
    keys: list[str] | None = None,
    start_col: str = "start",
    end_col: str = "end",
) -> DataFrame:
    """`bucketed_point_in_interval_join` with the width chosen by
    `choose_bucket_width` — same join, no hand-tuned constant."""
    width = choose_bucket_width(intervals, start_col, end_col)
    return bucketed_point_in_interval_join(
        points, intervals, point_col, width, keys, start_col, end_col
    )
